"""Tokenizers: every token kind the operators use, defined once.

Each function is a plain Spark built-in expression (split / filter /
transform — whole-stage codegen, no Python), and each has an exact
DuckDB replay, named in its docstring, that the suite's oracles use:

- :func:`space_tokens` — split on a single space.  Runs of spaces yield
  empty tokens, tabs and newlines stay inside tokens.  Cheaper than the
  regex split (Java's single-char fast path), so it is the default for
  operators whose oracles replay ``string_split``.
- :func:`whitespace_tokens` — split on runs of :data:`WHITESPACE`;
  :func:`collapse_whitespace` replaces each run with one space.
- :func:`alnum_words` / :func:`alpha_words` — lowercase ``[a-z0-9]`` /
  ``[a-z]`` runs, empty tokens dropped.
- :func:`lines` — split on ``\\n``.
- :func:`word_ngrams` — the sliding word-n-gram window over a token
  array.

Callers lowercase first where their operator is case-folded; the word
runs lowercase themselves.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "WHITESPACE",
    "space_tokens",
    "whitespace_tokens",
    "alnum_words",
    "alpha_words",
    "lines",
    "collapse_whitespace",
    "word_ngrams",
]

#: One whitespace run, as a regex both engines read the same way: the
#: class equals Java's ``\s`` (Spark), while RE2's ``\s`` (DuckDB) lacks
#: ``\x0B``, so the oracle SQL embeds this string instead of ``\s+``.
#: NBSP and other Unicode spaces are not whitespace here.
WHITESPACE = r"[ \t\n\x0B\f\r]+"


def _col(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def space_tokens(text: Column | str) -> Column:
    """``split(text, ' ')``; SQL ``string_split(text, ' ')``."""
    return F.split(_col(text), " ")


def whitespace_tokens(text: Column | str) -> Column:
    """Split on whitespace runs; SQL
    ``regexp_split_to_array(text, WHITESPACE)``.  Leading or trailing
    whitespace yields an empty first or last token, as in Spark."""
    return F.split(_col(text), WHITESPACE)


def _words(text: Column | str, pattern: str) -> Column:
    return F.filter(F.split(F.lower(_col(text)), pattern), lambda w: w != "")


def alnum_words(text: Column | str) -> Column:
    """Lowercase ``[a-z0-9]`` runs; SQL
    ``list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> w <> '')``."""
    return _words(text, "[^a-z0-9]+")


def alpha_words(text: Column | str) -> Column:
    """Lowercase ``[a-z]`` runs; SQL
    ``list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '')``."""
    return _words(text, "[^a-z]+")


def lines(text: Column | str) -> Column:
    """``split(text, '\\n')``; SQL ``string_split(text, chr(10))``."""
    return F.split(_col(text), "\n")


def collapse_whitespace(text: Column | str) -> Column:
    """Each whitespace run to one space; SQL
    ``regexp_replace(text, WHITESPACE, ' ', 'g')``."""
    return F.regexp_replace(_col(text), WHITESPACE, " ")


def word_ngrams(toks: Column | str, n: int) -> Column:
    """Word ``n``-grams of a token array, each the space-joined tokens
    at positions ``i .. i+n-1``; SQL
    ``list_transform(generate_series(1, greatest(len(t) - (n-1), 1)),
    i -> concat_ws(' ', t[i], ..., t[i+n-1]))``.

    An array shorter than ``n`` yields one gram, all its tokens joined
    (the slice is capped at the array end).  A caller with another
    short-document rule branches on ``size(toks) >= n``.

    Pass a *column reference* to a staged array where the grams are
    used more than once: the window references the array once per gram
    position, and Catalyst inlines expression trees per use site.
    """
    t = _col(toks)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
