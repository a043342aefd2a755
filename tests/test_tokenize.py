"""Pin the single token definitions of operators/tokenize.py.

Each tokenizer runs in Spark and, as its ``*_sql`` twin, in DuckDB on
strings built to split differently under near-miss definitions (tabs,
CRLF, runs of spaces, ``\\x0B``, NBSP, leading and trailing space, the
empty string); the arrays must be equal.  The oracle fragments in
the suite modules are pinned the same way against the operators they replay.  A
source check keeps every split in the one module.
"""

from __future__ import annotations

import pathlib

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from automated_batch_data_pipeline_nyc_spark.suite import QUERIES
from automated_batch_data_pipeline_nyc_spark.suite import dedup as suite_dedup
from automated_batch_data_pipeline_nyc_spark.operators import dedup as dd
from automated_batch_data_pipeline_nyc_spark.operators import tokenize as tk

ADVERSARIAL = [
    "alpha beta gamma delta",
    "alpha  beta   gamma",
    " alpha beta ",
    "alpha\tbeta\tgamma delta",
    "alpha\r\nbeta\r\ngamma",
    "alpha\x0bbeta gamma delta",
    "alpha\x0cbeta\x0dgamma",
    "alpha\u00a0beta gamma delta",
    "",
    " ",
    "one",
    "Hello, World! 42x is-it_ok?",
    "line one\n\nline  three\n",
    "Ünïcode café 9lives x",
]

#: The token kinds that take a text; each must have a ``*_sql`` twin.
TOKENIZERS = [
    name for name in tk.__all__
    if callable(getattr(tk, name)) and not name.endswith("_sql") and name != "word_ngrams"
]


def _both(spark, spark_expr, sql_expr, col="t"):
    """(Spark values, DuckDB values) of the two expressions over
    ADVERSARIAL, in input order."""
    rows = list(enumerate(ADVERSARIAL))
    sp = (
        spark.createDataFrame(rows, f"i INT, {col} STRING")
        .select("i", spark_expr.alias("v"))
        .orderBy("i")
        .collect()
    )
    src = pd.DataFrame(rows, columns=["i", col])  # noqa: F841 - read by DuckDB
    db = duckdb.sql(f"SELECT i, {sql_expr} AS v FROM src ORDER BY i").fetchall()
    return [r.v for r in sp], [v for _, v in db]


@pytest.mark.parametrize("name", TOKENIZERS)
def test_tokenizer_matches_its_sql_form(spark, name):
    sp, db = _both(spark, getattr(tk, name)("t"), getattr(tk, f"{name}_sql")("t"))
    assert sp == db


@pytest.mark.parametrize("split", ["space_tokens", "whitespace_tokens", "alpha_words"])
@pytest.mark.parametrize("n", [1, 2, 3])
def test_word_ngrams_matches_oracle_window(spark, split, n):
    grams = tk.word_ngrams(getattr(tk, split)("t"), n)
    toks = getattr(tk, f"{split}_sql")("t")
    sql = f"list_transform([{toks}], t -> {tk.word_ngrams_sql('t', n)})[1]"
    sp, db = _both(spark, grams, sql)
    assert sp == db


def test_oracle_gram_fragments_match_their_operators(spark):
    """_SQL_DOC_2GRAMS replays the single-space pair operators' grams;
    _sql_doc_ngrams replays shingle(), the MinHash gram set."""
    sp, db = _both(spark, F.array_sort(dd._space_grams("text", 2)), suite_dedup._SQL_DOC_2GRAMS, "text")
    assert sp == db
    for n in (2, 5):
        sp, db = _both(spark, F.array_sort(dd.shingle("text", n)), suite_dedup._sql_doc_ngrams(n), "text")
        assert sp == db


def test_minhash_transitive_oracle_pairs_match_on_any_whitespace(spark):
    """The dedup_minhash_transitive oracle's verified pairs equal
    minhash_pairs(portable=True)'s on near-duplicates that differ only in
    their separators.  collapse_exact=False: the oracle restates the
    uncollapsed pair list (the star collapse is component-equivalent,
    not pair-identical)."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    texts = [
        base,
        base.replace(" ", "\t"),
        base.replace(" ", "  "),
        " " + base.replace(" ", "\r\n") + " ",
        base.replace("lazy", "lazy\x0b") + " today",
        "pack my box with five dozen liquor jugs and then go home",
        "pack my box\twith five dozen liquor jugs and then go home now",
        "one",
        " one",
        "",
    ]
    documents = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sp = dd.minhash_pairs(
        spark.createDataFrame(documents), "text", "doc_id", portable=True,
        num_hashes=16, bands=4, rows_per_band=4,
        shingle_size=2, jaccard_threshold=0.8, collapse_exact=False,
    )
    oracle = QUERIES["dedup_minhash_transitive"].oracle
    head = oracle[: oracle.index(suite_dedup._SQL_CC_CLOSURE)].rstrip().rstrip(",")
    db = duckdb.sql(f"{head}\nSELECT id_a, id_b FROM pairs").fetchall()
    pairs = sorted((r.id_a, r.id_b) for r in sp.collect())
    assert pairs == sorted(db)
    assert (0, 1) in pairs and (0, 3) in pairs


def test_token_splits_live_only_in_tokenize():
    pkg = pathlib.Path(dd.__file__).resolve().parents[1]
    sql_splits = ("string_split(", "string_split_regex(", "regexp_split_to_array(")
    lines = [
        (path.relative_to(pkg).as_posix(), line.strip())
        for path in pkg.rglob("*.py")
        if path.name != "tokenize.py"
        for line in path.read_text().splitlines()
    ]
    # canonical_url's query-string split and session_path_trigrams' event
    # separator are not tokenizers
    assert {(f, line) for f, line in lines if "F.split(" in line} == {
        ("operators/text.py", 'F.split(query, "&"),'),
    }
    assert {(f, line) for f, line in lines if any(s in line for s in sql_splits)} == {
        ("suite/dedup.py", "FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),"),
        ("suite/analytics.py", "string_split(string_agg(event_type, '>' ORDER BY ts, event_id), '>')"),
    }
    suite_modules = sorted((pkg / "suite").glob("*.py"))
    assert suite_modules
    for path in suite_modules:
        src = path.read_text()
        assert "\\s+" not in src, path.name
        assert "tk.WHITESPACE" not in src, path.name
