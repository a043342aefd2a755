"""Tokenizers: every token kind the operators use, defined once, in
both dialects.

Each Spark function is a plain built-in expression (split / filter /
transform — whole-stage codegen, no Python).  Its ``*_sql`` twin,
defined next to it, takes the SQL expression of the text (for example
``"lower(text)"``) and returns the DuckDB expression that replays it
exactly; the suite's oracles spell every token split through these
twins.

- :func:`space_tokens` — split on a single space.  Runs of spaces yield
  empty tokens, tabs and newlines stay inside tokens.  Cheaper than the
  regex split (Java's single-char fast path).
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
    "space_tokens_sql",
    "whitespace_tokens",
    "whitespace_tokens_sql",
    "alnum_words",
    "alnum_words_sql",
    "alpha_words",
    "alpha_words_sql",
    "lines",
    "lines_sql",
    "collapse_whitespace",
    "collapse_whitespace_sql",
    "word_ngrams",
    "word_ngrams_sql",
]

#: One whitespace run, as a regex both engines read the same way: the
#: class equals Java's ``\s`` (Spark), while RE2's ``\s`` (DuckDB) lacks
#: ``\x0B``, so the SQL twins embed this string instead of ``\s+``.
#: NBSP and other Unicode spaces are not whitespace here.
WHITESPACE = r"[ \t\n\x0B\f\r]+"


def _col(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def space_tokens(text: Column | str) -> Column:
    """Split on each single space."""
    return F.split(_col(text), " ")


def space_tokens_sql(text: str) -> str:
    return f"string_split({text}, ' ')"


def whitespace_tokens(text: Column | str) -> Column:
    """Split on whitespace runs.  Leading or trailing whitespace yields
    an empty first or last token, as in Spark."""
    return F.split(_col(text), WHITESPACE)


def whitespace_tokens_sql(text: str) -> str:
    return f"regexp_split_to_array({text}, '{WHITESPACE}')"


def _words(text: Column | str, pattern: str) -> Column:
    return F.filter(F.split(F.lower(_col(text)), pattern), lambda w: w != "")


def _words_sql(text: str, pattern: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({text}), '{pattern}'), w -> w <> '')"


def alnum_words(text: Column | str) -> Column:
    """Lowercase ``[a-z0-9]`` runs."""
    return _words(text, "[^a-z0-9]+")


def alnum_words_sql(text: str) -> str:
    return _words_sql(text, "[^a-z0-9]+")


def alpha_words(text: Column | str) -> Column:
    """Lowercase ``[a-z]`` runs."""
    return _words(text, "[^a-z]+")


def alpha_words_sql(text: str) -> str:
    return _words_sql(text, "[^a-z]+")


def lines(text: Column | str) -> Column:
    """Split on each ``\\n``."""
    return F.split(_col(text), "\n")


def lines_sql(text: str) -> str:
    return f"string_split({text}, chr(10))"


def collapse_whitespace(text: Column | str) -> Column:
    """Each whitespace run to one space."""
    return F.regexp_replace(_col(text), WHITESPACE, " ")


def collapse_whitespace_sql(text: str) -> str:
    return f"regexp_replace({text}, '{WHITESPACE}', ' ', 'g')"


def word_ngrams(toks: Column | str, n: int) -> Column:
    """Word ``n``-grams of a token array, each the space-joined tokens
    at positions ``i .. i+n-1``.

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


def word_ngrams_sql(toks: str, n: int) -> str:
    """The window names the token list ``toks`` once per gram position,
    so pass a lambda variable bound to it
    (``list_transform([<tokens>], t -> ...)[1]``): the text is then
    split once per row."""
    parts = ", ".join(f"{toks}[i + {k}]" for k in range(n))
    return f"""list_transform(
        generate_series(1, greatest(len({toks}) - {n - 1}, 1)),
        i -> concat_ws(' ', {parts}))"""
