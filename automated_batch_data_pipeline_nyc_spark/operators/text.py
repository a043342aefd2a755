"""Text-analysis operators for training-data pipelines.

Language ID (marker-word heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + BPE-ish
estimate), and document fingerprinting.  Everything is built from
JVM-side string/array built-ins — whole-stage codegen, no Python in
the hot path — and every expression is deliberately reproducible in
ANSI SQL so the DuckDB oracle can verify it exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.capture import checkpoint as _ckpt
from .tokenize import (
    alnum_words,
    alpha_words,
    collapse_whitespace,
    lines,
    space_tokens,
    word_ngrams,
)

__all__ = [
    "token_count",
    "bpe_token_estimate",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "with_language_id",
    "fingerprint_md5",
    "redact_pii",
    "tf_idf_top_terms",
    "repetition_metrics",
    "contamination_flags",
    "url_host",
    "registered_domain",
    "domain_stats",
    "token_divergence_stats",
    "zipf_fit",
    "normalize_text",
    "canonical_url",
    "hashed_linear_score",
    "quality_classifier",
    "gopher_rules",
    "c4_rules",
    "remove_boilerplate_lines",
    "strip_html",
    "inverted_index",
    "bpe_word_freq",
    "bpe_pair_counts",
    "bpe_train",
    "bpe_encode",
    "bigram_lm_scores",
]

#: Small English stopword set (public-domain list subset) used by the
#: quality heuristics.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
)

#: Marker words per language for the n-gram/marker language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "est", "et"),
}


def token_count(text: Column | str) -> Column:
    return F.size(space_tokens(text))


def bpe_token_estimate(text: Column | str) -> Column:
    """BPE-ish token-count estimate without a tokenizer model: count
    word-piece-like units (runs of letters/digits, each additionally
    charged ceil(len/6) for long words) plus standalone punctuation.
    Deterministic, SQL-reproducible."""
    t = F.col(text) if isinstance(text, str) else text
    word_pieces = F.aggregate(
        alnum_words(t),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / 6.0).cast("bigint"),
    )
    punct = F.length(F.regexp_replace(t, "[a-zA-Z0-9 ]", ""))
    return (word_pieces + punct).alias("bpe_tokens")


def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(t) - F.length(F.regexp_replace(t, "[.,!?;:]", ""))
    return n_punct.cast("double") / F.greatest(F.length(t), F.lit(1)).cast("double")


def stopword_ratio(text: Column | str) -> Column:
    toks = space_tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: rewards moderate length,
    some-but-not-too-much punctuation, and a natural stopword rate.
    Weights are fixed constants; the exact arithmetic (double ops in a
    fixed order) is mirrored in the SQL oracle."""
    t = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(t).cast("double") / F.lit(500.0), F.lit(1.0))
    sw = stopword_ratio(t)
    sw_score = F.lit(1.0) - F.abs(sw - F.lit(0.4)) / F.lit(0.4)
    sw_score = F.greatest(sw_score, F.lit(0.0))
    p = punct_ratio(t)
    punct_score = F.lit(1.0) - F.least(p * F.lit(10.0), F.lit(1.0))
    return (len_score * F.lit(0.4) + sw_score * F.lit(0.4) + punct_score * F.lit(0.2))


def _best_lang(scores: dict[str, Column]) -> Column:
    """Highest marker count wins; ties break by fixed language order
    ('en' > 'de' > 'es' > 'fr'); no hits -> 'und'."""
    langs = list(LANG_MARKERS)
    best = None
    for lang in langs:
        cond = scores[lang] > 0
        for other in langs:
            if langs.index(other) < langs.index(lang):
                cond = cond & (scores[lang] > scores[other])
            elif other != lang:
                cond = cond & (scores[lang] >= scores[other])
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def with_language_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language heuristic: count hits per language's marker
    set; highest count wins, ties broken by fixed language order
    ('en' > 'de' > 'es' > 'fr'), 'und' (undetermined) when no marker
    hits.  A real pipeline would swap in fastText/CLD3 via a Pandas
    UDF; the heuristic keeps the operator fully SQL-verifiable.

    Staged: the four marker-hit counts are projected ONCE as columns,
    then the argmax is picked — the decision tree references each count
    ~4 times, and inline expressions would re-tokenize the text per
    reference (see the staging note in operators/dedup.py)."""
    toks = space_tokens(F.lower(F.col(text_col)))

    def _hits(markers: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    staged = df.withColumns(
        {f"__hits_{lang}": _hits(markers) for lang, markers in LANG_MARKERS.items()}
    )
    scores = {lang: F.col(f"__hits_{lang}") for lang in LANG_MARKERS}
    return staged.withColumn(out_col, _best_lang(scores)).drop(
        *[f"__hits_{lang}" for lang in LANG_MARKERS]
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Normalized content fingerprint: md5 of lowercased,
    whitespace-collapsed text.  md5 (not xxhash) so the oracle matches."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(collapse_whitespace(F.lower(F.trim(t))))


#: RE2-safe PII patterns (no backrefs / lookaround) so the identical
#: regex runs in Spark (java.util.regex) and the SQL oracle (RE2).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>"),
    ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
)


def redact_pii(text: Column | str) -> Column:
    """Scrub emails, phone-number-shaped digit runs, and IPv4 literals
    to typed placeholder tags — the standard pre-training privacy
    pass.  A chain of ``regexp_replace`` (applied in declaration order,
    so an IP inside an already-redacted email cannot double-fire):
    map-only, whole-stage codegen, scales with the scan.
    """
    out = F.col(text) if isinstance(text, str) else text
    for pattern, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return out


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_term_len: int = 4,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    tf = in-document term count, idf = ln(N / doc-frequency); ties
    break on the term string so the ranking is total and
    SQL-verifiable.  Plan shape: one explode + two hash aggregations
    (per-(doc, term) and per-term) + a broadcast of the corpus size +
    one window limited to k (WindowGroupLimit prunes the sort).  The
    doc-frequency table is keyed by term — at 100 TB it is the
    vocabulary, orders of magnitude smaller than the corpus, and the
    join against it is AQE-broadcastable for natural-language token
    distributions.
    """
    terms = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                space_tokens(F.lower(F.col(text_col))),
                lambda t: F.length(t) >= min_term_len,
            )
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style repetition quality metrics per document.

    Natural text has a heavy-tailed but diverse n-gram distribution;
    boilerplate, SEO spam, and templated pages repeat themselves.  The
    standard pre-training filters (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", §A.1.1) threshold on exactly these ratios:

    - ``dup_token_frac``   — 1 − distinct/total tokens,
    - ``top_gram_frac``    — occurrences of the single most frequent
      word n-gram over all n-gram occurrences,
    - ``dup_gram_frac``    — 1 − distinct/total n-grams.

    Plan shape: the token array is staged once, then two explode →
    hash-aggregate branches (token-level and gram-level) joined on the
    doc id.  Partial aggregation runs map-side, per-doc cardinality is
    bounded by document length, and the join keys are both the doc id —
    scan-shaped at any corpus size.  All ratios are single IEEE double
    divisions of exact BIGINT counts, so the SQL oracle matches
    bit-for-bit.
    """
    toks = df.select(id_col, space_tokens(F.lower(F.col(text_col))).alias("__t"))
    tok_stats = (
        toks.select(id_col, F.explode("__t").alias("tok"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
        )
    )
    # docs shorter than n tokens have no grams
    grams = F.when(F.size("__t") >= n, word_ngrams("__t", n))
    grams = grams.otherwise(F.array().cast("array<string>"))
    gram_counts = (
        toks.select(id_col, F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
    )
    gram_stats = gram_counts.groupBy(id_col).agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct_grams"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        tok_stats.join(gram_stats, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.lit(1.0) - dbl("n_distinct_tokens") / F.greatest(dbl("n_tokens"), F.lit(1.0))).alias("dup_token_frac"),
            (dbl("top_c") / F.greatest(dbl("n_grams"), F.lit(1.0))).alias("top_gram_frac"),
            (F.lit(1.0) - dbl("n_distinct_grams") / F.greatest(dbl("n_grams"), F.lit(1.0))).alias("dup_gram_frac"),
        )
    )


def contamination_flags(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag every document sharing any word
    ``n``-gram with a benchmark/eval set — the standard pre-training
    hygiene pass (GPT-3 paper §C uses 13-gram overlap; the default here
    is smaller because the fixture vocabulary is tiny).

    Returns ``(id_col, contaminated BIGINT 0/1)`` for every input row.

    Scale shape: the benchmark side (eval suites: thousands of docs) is
    distinct-ed and **broadcast**, so the corpus-side probe is a
    map-only broadcast-semi-join on the exploded grams — no corpus
    shuffle.  The only wide op is the final distinct of contaminated
    ids, bounded by corpus row count.  Gram extraction stages the token
    array once (Catalyst inlining).
    """
    # docs shorter than n tokens have no grams
    grams = F.when(F.size("__t") >= n, word_ngrams("__t", n))
    grams = F.explode(grams.otherwise(F.array().cast("array<string>"))).alias("gram")
    bench_grams = (
        bench_df.select(space_tokens(F.lower(F.col(text_col))).alias("__t"))
        .select(grams)
        .distinct()
    )
    doc_grams = df.select(
        id_col, space_tokens(F.lower(F.col(text_col))).alias("__t")
    ).select(id_col, grams)
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(1).cast("bigint"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(id_col, F.coalesce("contaminated", F.lit(0).cast("bigint")).alias("contaminated"))
    )


#: RE2-safe URL pieces (no lookaround) so the identical regex runs in
#: Spark (java.util.regex) and the DuckDB oracle (RE2).
_HOST_RE = "^[a-z][a-z0-9+.-]*://([^/?#:]+)"
_REG_DOMAIN_RE = "([a-z0-9-]+\\.[a-z0-9-]+)$"


def url_host(url: Column | str) -> Column:
    """Hostname from a URL (scheme-mandatory, port/path/query stripped).
    ``parse_url`` exists in Spark but not in every SQL dialect; a
    shared RE2-safe regex keeps the operator auditable cross-engine."""
    u = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(F.lower(u), _HOST_RE, 1)


def registered_domain(host: Column | str) -> Column:
    """Last two DNS labels — the C4-style grouping key for per-domain
    curation decisions (a public-suffix list would refine this; the
    two-label form is the deterministic, dependency-free core)."""
    h = F.col(host) if isinstance(host, str) else host
    return F.regexp_extract(h, _REG_DOMAIN_RE, 1)


def domain_stats(df: DataFrame, url_col: str, weight_col: str | None = None) -> DataFrame:
    """Per-registered-domain corpus statistics (doc count, distinct
    hosts, mean document weight) — the C4/RefinedWeb curation view that
    drives per-domain keep/downsample decisions.

    One hash aggregation keyed by domain; host/domain extraction is
    map-only regexp.  Domain cardinality is tiny relative to the corpus
    (web-scale: ~10^7 domains vs 10^10 docs), so the aggregate output
    is dashboard-sized at any input scale.
    """
    staged = df.withColumn("__host", url_host(url_col)).withColumn(
        "__domain", registered_domain(F.col("__host"))
    )
    aggs = [
        F.count("*").alias("n_docs"),
        F.countDistinct("__host").alias("n_hosts"),
    ]
    if weight_col is not None:
        aggs.append(
            (F.sum(F.col(weight_col)).cast("double") / F.count("*")).alias("avg_weight")
        )
    return staged.groupBy(F.col("__domain").alias("domain")).agg(*aggs)


def token_divergence_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token-distribution statistics: Shannon entropy and
    KL divergence against the corpus unigram distribution —
    ``(id, n_tokens, entropy, kl_vs_corpus)``.

    Low entropy flags repetitive/templated text (complementary to
    :func:`repetition_metrics`); high KL flags domain outliers whose
    vocabulary diverges from the corpus (ads, boilerplate, wrong-corpus
    contamination) — both standard pre-training quality signals.

    Plan shape: one explode → per-(doc, token) count, a window sum for
    per-doc totals (already partitioned by doc id — no extra shuffle),
    a corpus-unigram aggregate (vocabulary-sized → AQE-broadcastable
    join) and a scalar total, then one final per-doc aggregation.
    Scores are rounded to 6dp: the sums involve ``ln`` (libm differs by
    1 ULP across engines) and float addition order is
    partition-dependent.
    """
    from pyspark.sql import Window

    tc = (
        df.select(
            F.col(id_col), F.explode(space_tokens(F.lower(F.col(text_col)))).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy(id_col))
    corpus = tc.groupBy("tok").agg(F.sum("c").alias("cc"))
    total = corpus.agg(F.sum("cc").alias("t"))
    scored = (
        tc.withColumn("n", n)
        .join(corpus, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("n"),
            (F.col("c").cast("double") / F.col("n").cast("double")).alias("p"),
            (F.col("cc").cast("double") / F.col("t").cast("double")).alias("q"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.first("n").cast("bigint").alias("n_tokens"),
        F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias("kl_vs_corpus"),
    )


def zipf_fit(df: DataFrame, text_col: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary — the classic
    corpus-health check (Zipf 1949): natural text has
    ``freq ∝ rank^(-s)`` with s ≈ 1, so the OLS slope of
    ``ln freq ~ ln rank`` sits near −1 and fits tightly.  Machine-
    generated spam, templated boilerplate, or a corpus dominated by one
    crawler artifact bend the curve — a cheap whole-corpus smoke alarm
    run next to per-document quality scores.

    Returns ONE row ``(n_types, n_tokens, zipf_slope, intercept, r2)``.

    Plan shape: the only corpus-sized stage is the unigram count
    (explode → map-side-combinable groupBy).  Ranking then runs over
    the VOCABULARY (types, not tokens — tens of millions at 100 TB,
    i.e. executor-trivial); the global row_number window over that
    type table is the one ordered stage, and it is vocabulary-sized by
    construction.  Slope/intercept/r2 round to 6dp: ``ln`` differs by
    1 ULP across libm implementations and float-sum order is
    partition-dependent.
    """
    from pyspark.sql import Window

    freq = (
        df.select(F.explode(space_tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = freq.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), F.asc("word")))
            .cast("double")
        ).alias("lx"),
        F.log(F.col("freq").cast("double")).alias("ly"),
        "freq",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_tokens"),
        F.sum("lx").alias("__sx"),
        F.sum(F.col("lx") * F.col("lx")).alias("__sxx"),
        F.sum("ly").alias("__sy"),
        F.sum(F.col("ly") * F.col("ly")).alias("__syy"),
        F.sum(F.col("lx") * F.col("ly")).alias("__sxy"),
    )
    n = F.col("n_types").cast("double")
    sx, sxx = F.col("__sx"), F.col("__sxx")
    sy, syy = F.col("__sy"), F.col("__syy")
    sxy = F.col("__sxy")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / denx
    fit_ok = (F.col("n_types") > 1) & (denx != 0)
    return agg.select(
        F.col("n_types"),
        F.col("n_tokens"),
        F.round(F.when(fit_ok, slope), 6).alias("zipf_slope"),
        F.round(F.when(fit_ok, sy / n - slope * (sx / n)), 6).alias("intercept"),
        F.round(F.when(fit_ok & (deny != 0), (num * num) / (denx * deny)), 6).alias(
            "r2"
        ),
    )


#: C0/C1 control characters minus \t \n \r (those are whitespace and get
#: collapsed by the second pass).  Same RE2-compatible class as the
#: DuckDB oracle uses, so normalization is auditable cross-engine.
_CONTROL_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def normalize_text(df: DataFrame, text_col: str, out_col: str = "norm_text") -> DataFrame:
    """Canonicalize raw scraped text: strip control characters, collapse
    whitespace runs to single spaces, trim, then Unicode-NFC compose —
    the normalization pass every dedup/fingerprint stage should see, so
    that ``e`` + COMBINING ACUTE and precomposed ``é`` hash identically.

    The byte-level passes are JVM ``regexp_replace`` (codegen, map-only).
    Spark has no NFC built-in, so composition runs in an Arrow-batched
    ``pandas_udf`` over stdlib ``unicodedata`` — the one narrow,
    closure-pure Python hop; everything before it shrinks the payload.
    Map-only end to end: no shuffle at any scale.
    """
    import pandas as pd  # noqa: F401 - typing context for the UDF
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    cleaned = F.trim(
        collapse_whitespace(F.regexp_replace(F.col(text_col), _CONTROL_RE, ""))
    )
    return df.withColumn(out_col, _nfc(cleaned))


#: Query parameters that never affect content identity (tracking tags).
_TRACKING_PARAM_RE = "^(utm_[a-z0-9_]*|fbclid|gclid|ref)="


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a URL for URL-level dedup (the first-pass
    dedup key of every web-corpus pipeline): lowercase scheme and host,
    drop the default port for http/https, strip the fragment, drop
    trailing slashes from the path, remove tracking query parameters
    (``utm_*``, ``fbclid``, ``gclid``, ``ref``) and sort the survivors
    so parameter order doesn't split identical resources.

    Pure RE2-safe regexp + higher-order array ops (filter/sort/join) —
    codegen'd, map-only, and expressible verbatim in the SQL oracle.
    """
    u = F.col(url) if isinstance(url, str) else url
    nofrag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(nofrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_replace(
        F.regexp_extract(nofrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        "/+$",
        "",
    )
    query = F.regexp_extract(nofrag, "\\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "") & ~x.rlike(_TRACKING_PARAM_RE),
        )
    )
    qcanon = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )


def hashed_linear_score(
    text: Column | str,
    hash_dim: int = 2001,
) -> Column:
    """Hashing-trick linear text classifier score (map-only, exact).

    The standard model-based quality filter shape (fastText-style linear
    scorer a la CCNet / DCLM): each token hashes into a weight table,
    the weights sum, and a sigmoid turns the mean weight into a keep
    probability.  Here the weight for hash bucket ``h`` is the
    deterministic ``(h % hash_dim) - hash_dim//2`` (range symmetric
    around 0) so the DuckDB oracle can replay the exact same model; in
    production the lambda body swaps to an ``element_at`` lookup into a
    broadcast trained-weight array — identical plan shape, still
    map-only.

    Returns a struct ``(w_sum, n_tokens)``: the weight sum is an exact
    BIGINT (no float summation-order drift at any partitioning), so
    downstream thresholds like ``w_sum >= 0`` are bit-deterministic.
    The whole expression is a single JVM higher-order ``aggregate`` over
    the token array — zero shuffles, zero Python.
    """
    t = F.col(text) if isinstance(text, str) else text
    toks = space_tokens(t)
    half = hash_dim // 2
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, tok: acc
        + (
            F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
            % hash_dim
            - half
        ),
    )
    return F.struct(
        w_sum.alias("w_sum"), F.size(toks).cast("bigint").alias("n_tokens")
    )


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_dim: int = 2001,
    scale: float = 1000.0,
) -> DataFrame:
    """Score every document with the hashing-trick linear classifier and
    emit the keep decision.

    Output: ``(id, n_tokens, w_sum, score, keep)`` where
    ``score = sigmoid(w_sum / (scale * n_tokens))`` rounded to 6dp (one
    libm ``exp`` per row — rounding guards cross-platform ULP drift) and
    ``keep = w_sum >= 0`` (exact integer comparison, NOT the rounded
    float, so the decision boundary is bit-deterministic).

    Scale: map-only scan→project — no shuffle, no Python; at 100 TB this
    is the cheapest possible pass shape (same cost as reading the text
    column once).
    """
    s = hashed_linear_score(text_col, hash_dim)
    out = df.select(F.col(id_col), s.alias("_s"))
    logit = F.col("_s.w_sum") / (F.col("_s.n_tokens") * F.lit(scale))
    return out.select(
        id_col,
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.w_sum").alias("w_sum"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
        (F.col("_s.w_sum") >= 0).alias("keep"),
    )


#: Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", Appendix A1.1).
#: The required-stopword list is the paper's: a document must contain
#: at least two of these to pass the stopword rule.
GOPHER_REQUIRED_STOPS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021, Appendix A1.1) —
    the document-level subset (the line-level bullet/ellipsis rules
    need a multi-line corpus; line hygiene lives in
    :func:`remove_boilerplate_lines`):

    - ``r_word_count``:   50 <= word count <= 100,000
    - ``r_mean_word_len``: 3 <= mean word length <= 10
    - ``r_symbol_ratio``: (count of '#' + '...') / words <= 0.1
    - ``r_alpha_words``:  >= 80% of words contain a letter
    - ``r_stopwords``:    contains >= 2 of GOPHER_REQUIRED_STOPS
    - ``gopher_keep``:    all of the above

    All map-only JVM expressions, one projection — no UDF, no shuffle.
    The token array is staged as a column ONCE (Catalyst inlines
    expression trees per use site; referencing the split five times
    would re-split five times).  Ratios are exact integer counts until
    the final double division, so DuckDB replays them bit-for-bit.
    """
    t = F.col(text_col)
    staged = df.withColumn("__w", space_tokens(t))
    n = F.size("__w")
    nd = n.cast("double")
    mean_len = (
        F.aggregate("__w", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .cast("double")
        / nd
    )
    n_symbols = (
        F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
        + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    )
    symbol_ratio = n_symbols.cast("double") / nd
    frac_alpha = (
        F.size(F.filter("__w", lambda w: w.rlike("[A-Za-z]"))).cast("double") / nd
    )
    n_req_stops = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPS]),
            lambda s: F.array_contains("__w", s),
        )
    )
    out = staged.withColumns(
        {
            "n_words": n.cast("long"),
            "mean_word_len": F.round(mean_len, 6),
            "symbol_ratio": F.round(symbol_ratio, 6),
            "frac_alpha_words": F.round(frac_alpha, 6),
            "n_required_stops": n_req_stops.cast("long"),
        }
    ).drop("__w")
    rules = {
        "r_word_count": (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000),
        "r_mean_word_len": (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0),
        "r_symbol_ratio": F.col("symbol_ratio") <= 0.1,
        "r_alpha_words": F.col("frac_alpha_words") >= 0.8,
        "r_stopwords": F.col("n_required_stops") >= 2,
    }
    out = out.withColumns(rules)
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("gopher_keep", keep)


def c4_rules(df: DataFrame, text_col: str) -> DataFrame:
    """C4 cleaning battery (Raffel et al. 2020, §2.2) — the line + page
    rules behind the C4/T5 corpus, the other canonical heuristic
    pre-filter beside :func:`gopher_rules`:

    line level (a line survives iff ALL of):
    - ends in a terminal punctuation mark (``.`` ``!`` ``?`` ``"``)
    - has at least 5 words
    - does not mention ``javascript`` (case-insensitive)

    page level (over the ORIGINAL page, before line filtering):
    - ``has_lorem``: contains the ``lorem ipsum`` placeholder
    - ``has_brace``: contains ``{`` (code, not prose)
    - ``c4_keep``: ≥ 3 sentences survive the line filter (sentence =
      terminal ``.!?`` in the kept text) AND neither page flag fired

    (The published pipeline also applies a blocklist-word page filter;
    that list is not reproduced here — slot a broadcast blocklist join
    ahead of this operator if needed.)

    Output adds ``n_lines, n_kept, n_sentences, has_lorem, has_brace,
    c4_keep, clean_text``.  Everything is map-only array/string
    expressions over one staged line split — no UDF, no shuffle, full
    whole-stage codegen — and every rule is exact string/integer work
    that replays bit-for-bit in ANSI SQL.
    """
    t = F.col(text_col)
    staged = df.withColumn(
        "__ln", F.transform(lines(t), lambda l: F.trim(l))
    )

    def _keep(l):
        words = F.filter(space_tokens(l), lambda w: w != "")
        return (
            F.substring(l, -1, 1).isin(".", "!", "?", '"')
            & (F.size(words) >= 5)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter("__ln", _keep)
    clean = F.concat_ws("\n", kept)
    out = staged.withColumns(
        {
            "n_lines": F.size("__ln").cast("long"),
            "n_kept": F.size(kept).cast("long"),
            "clean_text": clean,
        }
    ).drop("__ln")
    n_sent = (
        F.length("clean_text")
        - F.length(F.translate("clean_text", ".!?", ""))
    ).cast("long")
    out = out.withColumns(
        {
            "n_sentences": n_sent,
            "has_lorem": F.lower(t).contains("lorem ipsum"),
            "has_brace": t.contains("{"),
        }
    )
    return out.withColumn(
        "c4_keep",
        (F.col("n_sentences") >= 3)
        & ~F.col("has_lorem")
        & ~F.col("has_brace"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    min_frac: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """Line-level boilerplate removal (CCNet / RefinedWeb line dedup).

    Drops every line that occurs (after whitespace/case normalization)
    in at least ``min_frac`` of the documents of its group (and at least
    ``min_docs`` of them) — the nav/header/footer/cookie-banner kill
    pass that per-document dedup cannot express.  Grouping is typically
    the registered domain, so a template shared by one site dies while
    the same words in a quote elsewhere survive.

    Output: one row per input document —
    ``(id, group, n_lines, n_kept, clean_text)`` with ``clean_text``
    the surviving lines re-joined in original order (empty string when
    every line was boilerplate).

    Scale shape (100 TB): one posexplode (map-side), one combinable
    count-distinct shuffle bounded by |distinct (group, line)| — the
    long unique tail partial-aggregates map-side, the heavy hitters ARE
    the boilerplate we're hunting — then the boilerplate set (lines
    above an occurrence *fraction*; tiny by construction) broadcasts
    into a left-anti probe, and one groupBy(id) shuffle reassembles.
    Never a self-join, never corpus × corpus.
    """
    norm = F.lower(F.trim(collapse_whitespace("line")))
    rows = df.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(lines(text_col)).alias("pos", "line"),
    ).withColumn("norm", norm)

    group_docs = df.groupBy(group_col).agg(
        F.countDistinct(id_col).alias("g_docs")
    )
    line_docs = rows.groupBy(group_col, "norm").agg(
        F.countDistinct(id_col).alias("l_docs")
    )
    boilerplate = (
        line_docs.join(group_docs, group_col)
        .filter(
            (F.col("l_docs") >= min_docs)
            & (F.col("l_docs") >= F.lit(min_frac) * F.col("g_docs"))
        )
        .select(group_col, "norm")
    )

    kept = rows.join(
        F.broadcast(boilerplate), [group_col, "norm"], "left_anti"
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        F.size(lines(text_col)).cast("bigint").alias("n_lines"),
    )
    return base.join(reassembled, id_col, "left").select(
        id_col,
        group_col,
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def strip_html(text: Column | str) -> Column:
    """WET-style text extraction: strip markup from an HTML payload.

    Kill order matters: script/style blocks die WITH their contents
    (``(?is)`` inline flags — case-insensitive, dot-matches-newline),
    then every remaining tag becomes a space, then the five core
    entities decode, then whitespace collapses.  All RE2-safe patterns
    (no backreferences, no lookahead) so the exact same chain runs in
    the DuckDB oracle; map-only whole-stage codegen in Spark.

    This is the extraction step ahead of every cleaning/dedup pass on
    crawled corpora; a production pipeline swaps in a real DOM
    extractor (trafilatura-class) via mapInPandas where fidelity
    matters, but the regex path handles the bulk strip at full JVM
    speed with zero Python.  Known regex-extractor limitation: a bare
    ``< ... >`` comparison in prose is indistinguishable from a tag and
    gets stripped — the DOM path is the fix where that matters.
    """
    t = F.col(text) if isinstance(text, str) else text
    # two passes instead of a <(script|style)>...</\1> backreference —
    # RE2 (the oracle's engine) has no backrefs
    no_blocks = F.regexp_replace(
        F.regexp_replace(t, r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
        r"(?is)<style\b[^>]*>.*?</style\s*>",
        " ",
    )
    no_tags = F.regexp_replace(no_blocks, r"(?s)<[^>]+>", " ")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(no_tags, "&nbsp;", " "),
                    "&lt;", "<"),
                "&gt;", ">"),
            "&quot;", "\""),
        "&amp;", "&")
    return F.trim(collapse_whitespace(decoded))


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 4,
    max_df: int | None = None,
) -> DataFrame:
    """Build a term -> postings inverted index over the corpus.

    Output per term: ``(term, total_tf, df_count, postings_fp)`` where
    ``postings_fp`` is the md5 of the comma-joined numerically-sorted
    distinct doc ids — the index artifact is verifiable by fingerprint
    without materializing posting lists into the result.

    Scale: explode is map-side; the single groupBy(term) shuffle is
    bounded by |vocabulary| x |docs containing the term|.  Heavy-hitter
    terms (stopwords) concentrate their postings on one reducer — at
    web scale you cap df (drop terms above a document-frequency ceiling,
    they carry no retrieval signal) or shard postings by
    (term, doc_id range); ``min_len`` already drops the worst of the
    stopword mass here.
    """
    toks = F.filter(
        space_tokens(F.lower(F.col(text_col))), lambda x: F.length(x) >= min_len
    )
    pairs = df.select(F.col(id_col).alias("_id"), F.explode(toks).alias("term"))
    if max_df is not None:
        # the heavy-hitter cap, made real: terms above the document-
        # frequency ceiling (stopword-class, no retrieval signal) are
        # dropped BEFORE postings collect, so no reducer ever holds a
        # web-scale stopword posting list.  The df pre-count is one
        # combinable (term)-keyed agg over distinct (term, doc) pairs
        # (a second pass over the text column — columnar re-scan is far
        # cheaper than shuffling stopword postings).  Crucially the
        # probe side is the DROP set — terms ABOVE the cap — which is
        # tiny by construction (the heavy hitters), so it broadcasts
        # into a left-anti join; the keep set is the long tail and must
        # never be the broadcast side.
        drop = (
            pairs.distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("term")
        )
        pairs = pairs.join(F.broadcast(drop), "term", "left_anti")
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("_id").alias("df_count"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("postings_fp"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016, distributed)
# ---------------------------------------------------------------------------

def bpe_word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """Word-frequency table ``(w, c)`` over lowercased alphabetic words
    of length >= 2 — the ONE corpus-scale pass of BPE training: every
    later merge iteration runs over this vocabulary-bounded table,
    never the corpus again (exactly how reference BPE trainers work —
    they iterate a word-count dict, not the text)."""
    return (
        df.select(
            F.explode(alpha_words(text_col)).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """All adjacent symbol pairs of an array, as structs — empty for
    arrays shorter than 2."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-weighted adjacent character-pair frequencies — the
    statistic a BPE trainer's FIRST merge maximizes, as one query:
    ``(left_sym, right_sym, n)`` where n counts occurrences across all
    word instances (word count x in-word occurrences).

    Plan: corpus shuffle once into the word-frequency table, then a
    map-only pair explode over the VOCABULARY and a pair-bounded
    (<= 26x26 here) count shuffle.  All JVM expressions.
    """
    wc = bpe_word_freq(df, text_col)
    syms = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    return (
        wc.select(F.explode(_adjacent_pairs(syms)).alias("p"), "c")
        .groupBy(
            F.col("p.a").alias("left_sym"), F.col("p.b").alias("right_sym")
        )
        .agg(F.sum("c").alias("n"))
    )


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right BPE merge of adjacent pair (a, b) into one
    symbol — the fold every BPE implementation runs per word, as a pure
    JVM ``aggregate`` (state = (out, skip): overlapping occurrences
    like 'aaa' under (a,a) merge left-first to [aa, a], never [a, aa]).
    """
    merged = a + b
    idx = F.sequence(F.lit(1), F.size(syms))
    state0 = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit(False).alias("skip")
    )

    def step(acc: Column, i: Column) -> Column:
        cur = F.element_at(syms, i)
        # try_: ANSI element_at throws past the end; NULL is what we want
        nxt = F.try_element_at(syms, i + 1)
        do = (
            (~acc["skip"])
            & (cur == F.lit(a))
            & F.coalesce(nxt == F.lit(b), F.lit(False))
        )
        out_new = F.when(acc["skip"], acc["out"]).otherwise(
            F.concat(
                acc["out"],
                F.array(F.when(do, F.lit(merged)).otherwise(cur)),
            )
        )
        return F.struct(out_new.alias("out"), do.alias("skip"))

    return F.aggregate(idx, state0, step, lambda acc: acc["out"])


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 16,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Distributed BPE training (Sennrich et al. 2016): learn
    ``n_merges`` merge rules, returned as ``(rank, left_sym,
    right_sym, pair_count)`` in learned order.

    Deterministic: the argmax pair breaks count ties on
    (left_sym, right_sym) lexicographically, so the merge sequence is
    reproducible across partitionings and runs (pinned by pytest
    against a pure-Python reference).

    Scale shape: the corpus is read ONCE into the word-frequency table
    (:func:`bpe_word_freq`); each iteration then costs one
    vocabulary-bounded pair-count shuffle, a 1-row TakeOrdered argmax
    (driver-sized by construction, the same convergence-probe pattern
    as graph.py's connected components), and a map-only merge fold.
    Lineage is truncated every ``checkpoint_every`` iterations via
    localCheckpoint, or iteration n's plan would nest n merge folds.
    """
    spark = df.sparkSession
    vocab = bpe_word_freq(df, text_col).withColumn(
        "syms",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ),
    )
    vocab = _ckpt(vocab, eager=False, label="bpe_train_vocab0")
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            vocab.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "c")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("c").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((rank, a, b, n))
        vocab = vocab.withColumn("syms", _apply_merge(F.col("syms"), a, b))
        if (rank + 1) % checkpoint_every == 0:
            # lazy (r13): the next round's argmax job materializes the
            # truncated fold — no dedicated checkpoint job
            vocab = _ckpt(vocab, eager=False, label="bpe_train_fold")
    return spark.createDataFrame(
        merges, "rank long, left_sym string, right_sym string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: Sequence[tuple[str, str]],
    out_col: str = "bpe_syms",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Tokenize a corpus with learned BPE ``merges`` (rank order), via
    the DICTIONARY-JOIN design that makes encoding scale: the merge
    folds — expression depth = number of merges — run only over the
    corpus' distinct-word VOCABULARY; the corpus itself then just
    joins each word occurrence to its precomputed segmentation and
    reassembles documents in order.  Per-row iterated merging (the
    naive port of a Python encoder) would nest len(merges) folds into
    the corpus scan — vocabulary-bounding it is the standard trick
    (word-level caching in every production BPE encoder, here as a
    join).  Returns ``(id_col, out_col: array<string>)`` with each
    document's symbols in reading order.

    Plan: one distinct-word shuffle (vocabulary-bounded), k map-only
    merge folds over the vocab with periodic lineage truncation, one
    word->segmentation equi-join (broadcastable when the vocab is),
    one doc-keyed reassembly shuffle.
    """
    words = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(alpha_words(text_col)).alias("__pos", "__w"),
    )
    vocab = words.select(F.col("__w").alias("w")).distinct().withColumn(
        "syms",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ),
    )
    for rank, (a, b) in enumerate(merges):
        vocab = vocab.withColumn("syms", _apply_merge(F.col("syms"), a, b))
        if (rank + 1) % checkpoint_every == 0:
            vocab = _ckpt(vocab, eager=False, label="bpe_encode_fold")
    return (
        words.join(vocab.withColumnRenamed("w", "__w"), "__w")
        .groupBy("__id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "syms"))
                    ),
                    lambda s: s["syms"],
                )
            ).alias(out_col)
        )
        .withColumnRenamed("__id", id_col)
    )


def log_odds_keyness(
    df: DataFrame,
    text_col: str,
    slice_col: str,
    a0: int = 1000,
    min_count: int = 5,
) -> DataFrame:
    """Weighted log-odds keyness between two corpus slices (Monroe,
    Colaresi & Quinn 2008, "Fightin' Words"): for each word, the
    log-odds-ratio of its rate in slice 1 vs slice 0 under an
    informative Dirichlet prior drawn from the COMBINED corpus, with
    the per-word z-score ``delta / sqrt(1/(y1+a) + 1/(y0+a))``.  The
    topic-drift screen a training pipeline runs between crawls ("which
    words exploded since the last snapshot?") — raw frequency ratios
    over-rank rare words; the prior shrinks exactly those.

    ``slice_col`` must be 0/1.  Exactness: per-word counts and totals
    are exact longs from ONE vocabulary-keyed count shuffle
    (map-side combined; the word table is checkpoint-staged for its
    two consumers — totals and the per-word scan); the prior
    ``a_w = a0·y_all / n_all`` is one integer product and one double
    division, and every later step is the same fixed IEEE sequence in
    any engine.  ln() is the one libm call — consumers comparing
    cross-engine should round (the suite rounds to 6dp, the Benford
    log10 precedent).
    """
    toks = df.select(
        F.col(slice_col).cast("long").alias("__s"),
        F.explode(space_tokens(F.lower(F.col(text_col)))).alias("word"),
    ).filter(F.col("word") != "")
    words = _ckpt(
        toks.groupBy("word")
        .agg(
            F.count(F.when(F.col("__s") == 1, 1)).alias("y1"),
            F.count(F.when(F.col("__s") == 0, 1)).alias("y0"),
        ),
        # two consumers (corpus totals + the per-word scan): stage so
        # the count aggregate runs once (SCALING.md scalar-reuse trap)
        eager=False,
        label="keyness_words",
    )
    totals = words.agg(
        F.sum("y1").alias("n1"), F.sum("y0").alias("n0")
    )
    w = words.filter((F.col("y1") + F.col("y0")) >= min_count).crossJoin(
        F.broadcast(totals)
    )
    a_w = (F.lit(a0) * (F.col("y1") + F.col("y0"))).cast("double") / (
        F.col("n1") + F.col("n0")
    ).cast("double")
    num1 = F.col("y1").cast("double") + a_w
    den1 = (F.col("n1") + F.lit(a0) - F.col("y1")).cast("double") - a_w
    num0 = F.col("y0").cast("double") + a_w
    den0 = (F.col("n0") + F.lit(a0) - F.col("y0")).cast("double") - a_w
    delta = F.log(num1 / den1) - F.log(num0 / den0)
    var = F.lit(1.0) / num1 + F.lit(1.0) / num0
    return w.select(
        "word",
        "y1",
        "y0",
        delta.alias("delta"),
        (delta / F.sqrt(var)).alias("z"),
    )


def _bigram_pairs(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Adjacent alpha-token bigrams of ``text_col`` (lowercased,
    ``[^a-z]+`` split — the BPE-oracle tokenization), one row per
    occurrence, carrying the ``keep`` columns.  Documents with fewer
    than two tokens contribute nothing."""
    toks = df.select(*keep, alpha_words(text_col).alias("__t")).filter(F.size("__t") >= 2)
    return toks.select(
        *keep, F.explode(_adjacent_pairs(F.col("__t"))).alias("p")
    ).select(*keep, F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))


def bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    round_lp: int = 8,
    model_flag: Column | None = None,
    validate_flag: bool = False,
) -> DataFrame:
    """Per-document score under an add-one-smoothed bigram language
    model — the perplexity quality filter of CCNet / Wikipedia-LM
    pipelines (Wenzek et al. 2020 train a KenLM on a clean reference
    corpus and keep the low-perplexity tail of the crawl):

        P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)
        nll(doc)   = -(1/n) * sum over doc bigrams of ln P(w2|w1)
        ppl(doc)   = exp(nll)

    ``model_df`` is the REFERENCE corpus the counts c and vocabulary V
    come from (default: ``df`` itself — self-trained).  When the
    reference is a SUBSET of the scored corpus (the CCNet shape where
    the model trains on the "clean" slice of the same lake — e.g. the
    English documents), pass ``model_flag`` (a boolean Column over
    ``df``'s rows, constant per document) instead of ``model_df``: the
    model counts then derive from the SAME per-(doc, bigram) cell table
    as the scoring side, so the corpus is scanned, tokenized, exploded
    and shuffled exactly once instead of twice.  At sf0.1 the two forms
    time equal (the extra pass hides behind shuffle latency); the
    saving is the second full corpus SCAN + tokenize, which is the
    dominant term at lake scale.  Counts are identical by construction
    (verified bit-equal at sf0.1): sum of per-doc occurrence
    counts over flagged docs == occurrence count over the flagged
    sub-corpus.  ``model_flag`` and ``model_df`` are mutually
    exclusive.

    The constant-per-document requirement is load-bearing: the flag is
    carried through the cell table with a per-(doc, bigram) MAX, so if
    it varied across rows of one document the doc would enter the model
    with its FULL cell counts whenever ANY of its rows is flagged
    (any-occurrence-true) — which diverges from
    ``model_df=df.filter(flag)`` (that keeps only the flagged rows'
    bigrams).  NULL flags count as not-model, matching the filter.
    Pass ``validate_flag=True`` (debug path) to enforce the
    precondition: one extra aggregation job over the already-
    checkpointed cell table, raising ``ValueError`` if any document
    carries both flagged and unflagged rows.  The smoothing
    is what makes the reference-model form work at all: bigrams unseen
    in the model (including unseen left contexts, where c(w1)=0) score
    a proper finite ln(1/(0+V)) instead of ln 0 — this is the
    distinction from the unsmoothed MLE self-scorer
    ``bigram_logprob_scores`` in the suite, whose zero-count case
    cannot occur only because it scores its own training data.

    Scale shape — each corpus is read ONCE and shuffled ONCE:

    * scored side: one shuffle to per-(doc, bigram) cells
      ``db = (id, w1, w2, n)``; model scores attach at bigram-TYPE
      granularity (doc-distinct pairs, not token occurrences);
    * model side: bigram totals ``c12`` (one shuffle — reused from
      ``db`` when self-trained), left-context totals ``c1`` and the
      conditioning vocabulary ``V`` (distinct w1/w2 tokens) both roll
      up from the c12 TYPE table, never the corpus;
    * unseen pairs survive via LEFT joins + coalesce(0) — the model
      tables never need the scored corpus's key space;
    * exactness: each ln is rounded to ``round_lp`` dp (absorbing the
      cross-libm ULP — at 8 dp a 1-ulp ln() disagreement flips a grid
      cell with probability ~1e-7; Benford/keyness precedent) and cast
      DECIMAL(18,8), so per-doc weighted sums are order-independent
      exact decimals on any partitioning.  Only the final /n and exp()
      touch doubles (6dp).

    Documents with fewer than two alpha tokens have no bigrams and are
    excluded (the oracle's pair-unnest excludes them identically).  A
    model corpus with NO bigrams at all (V=0) can score nothing —
    ``nll``/``ppl`` come back NULL rather than a silent 1/0 Infinity.
    """
    if model_flag is not None and model_df is not None:
        raise ValueError(
            "bigram_lm_scores: pass model_df OR model_flag, not both"
        )
    if validate_flag and model_flag is None:
        raise ValueError(
            "bigram_lm_scores: validate_flag validates model_flag's "
            "constant-per-document precondition — meaningless without "
            "model_flag; refusing to silently skip the check"
        )
    if model_flag is not None:
        # Subset-model: carry the (per-document constant) flag through
        # the cell table — grouping by (id, w1, w2) preserves it — so
        # the model counts filter the SAME frame the scoring join
        # consumes: one tokenize, one explode, one shuffle.  NULL flags
        # coalesce to false (not-model), matching a model_df built with
        # df.filter(flag); the coalesce also lets the validate path
        # read min/max without NULL-skipping blind spots.
        agg = [F.count(F.lit(1)).alias("n"), F.max("__mf").alias("__mf")]
        if validate_flag:
            agg.append(F.min("__mf").alias("__mf_min"))
        db = _ckpt(
            _bigram_pairs(
                df.withColumn(
                    "__mf",
                    F.coalesce(model_flag.cast("boolean"), F.lit(False)),
                ),
                text_col,
                id_col,
                "__mf",
            )
            .groupBy(id_col, "w1", "w2")
            .agg(*agg),
            eager=False,  # feeds model AND scoring
            label="bigram_lm_doc_cells",
        )
        if validate_flag:
            n_bad = (
                db.groupBy(id_col)
                .agg(
                    F.min(F.col("__mf_min").cast("int")).alias("__lo"),
                    F.max(F.col("__mf").cast("int")).alias("__hi"),
                )
                .filter(F.col("__lo") != F.col("__hi"))
                .limit(1)
                .count()
            )
            if n_bad:
                raise ValueError(
                    "bigram_lm_scores: model_flag must be constant per "
                    "document — found a document with both flagged and "
                    "unflagged rows; its any-occurrence-true model "
                    "counts would diverge from model_df=df.filter(flag)"
                )
            db = db.drop("__mf_min")
        c12 = (
            db.filter(F.col("__mf"))
            .groupBy("w1", "w2")
            .agg(F.sum("n").alias("c12"))
        )
        db = db.drop("__mf")
    else:
        db = (
            _bigram_pairs(df, text_col, id_col)
            .groupBy(id_col, "w1", "w2")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        if model_df is None or model_df is df:
            # Self-trained: db feeds BOTH the model counts and the
            # scoring join, so materialize the corpus-sized cell table
            # once.  With an external model, db has exactly one consumer
            # and a checkpoint would just burn executor storage.
            db = _ckpt(db, eager=False, label="bigram_lm_self_cells")
            c12 = db.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
        else:
            mp = _bigram_pairs(model_df, model_text_col or text_col)
            c12 = mp.groupBy("w1", "w2").agg(
                F.count(F.lit(1)).alias("c12")
            )
    c12 = _ckpt(c12, eager=False, label="bigram_lm_model")
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = (
        c12.select(F.col("w1").alias("w"))
        .unionAll(c12.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    # An empty model (no bigrams at all) has V=0 and can score nothing:
    # P=(0+1)/(0+0) is undefined.  Scores go NULL — loud, not garbage
    # (a 1/0 double would silently propagate Infinity into the sums).
    lp = F.when(
        F.col("v") > 0,
        F.round(
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast(
                    "double"
                )
            ),
            round_lp,
        ).cast("decimal(18,8)"),
    )
    return (
        db.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(id_col, "n", lp.alias("lp"))
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n").cast("decimal(10,0)") * F.col("lp")).alias("__s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                -F.col("__s").cast("double") / F.col("n_bigrams"), 6
            ).alias("nll"),
            F.round(
                F.exp(-F.col("__s").cast("double") / F.col("n_bigrams")), 6
            ).alias("ppl"),
        )
    )
