"""LLM-corpus text queries: token statistics, language id,
normalization, chunking and packing, PII redaction, quality scoring and
rule-based filters (Gopher, C4, boilerplate, HTML extraction),
decontamination, n-gram language-model scores and BPE."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import chunking as ch
from ..operators import dedup as dd
from ..operators import text as tx
from ..operators import tokenize as tk
from ..operators.util import spread
from .registry import _load, _q


_STOP_SQL = "['" + "','".join(tx.STOPWORDS) + "']"


@_q(
    "text_token_stats",
    f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars_computed,
      CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens,
      CAST(
        CAST(coalesce(list_sum(list_transform(
              {tk.alnum_words_sql('text')},
              w -> CAST(ceil(length(w) / 6.0) AS BIGINT))), 0) AS BIGINT)
        + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
      AS BIGINT) AS bpe_tokens
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish estimate (north-star text ops)",
)
def _toktext(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_computed"),
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.bpe_token_estimate("text").cast("long").alias("bpe_tokens"),
    )


@_q(
    "text_quality_scores",
    f"""
    SELECT doc_id,
      punct_cnt::DOUBLE / greatest(length(text), 1) AS punct_ratio,
      stop_cnt::DOUBLE / greatest(n_toks, 1) AS stopword_ratio,
      least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
        + greatest(1.0 - abs(stop_cnt::DOUBLE / greatest(n_toks, 1) - 0.4) / 0.4, 0.0) * 0.4
        + (1.0 - least(punct_cnt::DOUBLE / greatest(length(text), 1) * 10.0, 1.0)) * 0.2
        AS quality
    FROM (
      SELECT doc_id, text,
        length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        len(list_filter({tk.space_tokens_sql('lower(text)')}, x -> list_contains({_STOP_SQL}, x))) AS stop_cnt,
        len({tk.space_tokens_sql('lower(text)')}) AS n_toks
      FROM documents
    )
    """,
    doc="quality scoring: length/punct/stopword heuristics",
)
def _quality(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.punct_ratio("text").alias("punct_ratio"),
        tx.stopword_ratio("text").alias("stopword_ratio"),
        tx.quality_score("text").alias("quality"),
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    arr = "['" + "','".join(markers) + "']"
    return f"len(list_filter({tk.space_tokens_sql('lower(text)')}, x -> list_contains({arr}, x)))"


@_q(
    "text_language_id",
    f"""
    SELECT doc_id, lang AS lang_label,
      CASE
        WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        WHEN s_de > 0 AND s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
        WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
        ELSE 'und' END AS lang_pred
    FROM (
      SELECT doc_id, lang, text,
        {_lang_score_sql(tx.LANG_MARKERS['en'])} AS s_en,
        {_lang_score_sql(tx.LANG_MARKERS['de'])} AS s_de,
        {_lang_score_sql(tx.LANG_MARKERS['es'])} AS s_es,
        {_lang_score_sql(tx.LANG_MARKERS['fr'])} AS s_fr
      FROM documents
    )
    """,
    doc="language-ID marker-word heuristic (swap for fastText via pandas_udf in prod)",
)
def _langid(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.with_language_id(docs, "text").select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        "lang_pred",
    )


@_q(
    "text_fingerprint",
    f"""
    SELECT doc_id,
      md5({tk.collapse_whitespace_sql('lower(trim(text))')}) AS fingerprint
    FROM documents
    """,
    doc="document fingerprinting (md5 of normalized text; oracle-identical)",
)
def _fp(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint_md5("text").alias("fingerprint"))


@_q(
    "word_counts",
    f"""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest({tk.space_tokens_sql('lower(text)')}) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 50
    """,
    doc="explode + groupBy wordcount (the canonical shuffle benchmark), "
        "deterministic top-50 via (count, word) tie-break",
)
def _wordcount(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tk.space_tokens(F.lower("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


@_q(
    "corpus_prep",
    f"""
    WITH good AS (
      SELECT * FROM documents d
      WHERE d.lang = 'en'
        AND least(length(d.text)::DOUBLE / 500.0, 1.0) * 0.4
          + greatest(1.0 - abs(
              len(list_filter({tk.space_tokens_sql('lower(d.text)')},
                              x -> list_contains({_STOP_SQL}, x)))::DOUBLE
                / greatest(len({tk.space_tokens_sql('lower(d.text)')}), 1) - 0.4) / 0.4, 0.0) * 0.4
          + (1.0 - least((length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')))::DOUBLE
                / greatest(length(d.text), 1) * 10.0, 1.0)) * 0.2 >= 0.5
    )
    SELECT doc_id, lang, source,
      CAST(coalesce(list_sum(list_transform(
            {tk.alnum_words_sql('text')},
            w -> CAST(ceil(length(w) / 6.0) AS BIGINT))), 0) AS BIGINT)
        + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS bpe_tokens
    FROM (
      SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM good
    ) WHERE rn = 1
    """,
    doc="headline training-data prep pipeline: language filter -> quality "
        "threshold -> exact dedup -> token accounting, all JVM-side, one pass "
        "+ one dedup shuffle",
)
def _corpus(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en")
    good = en.filter(tx.quality_score("text") >= 0.5)
    deduped = dd.exact_dedup(good, "text", "doc_id")
    return deduped.select(
        "doc_id",
        "lang",
        "source",
        tx.bpe_token_estimate("text").cast("long").alias("bpe_tokens"),
    )


@_q(
    "chunk_documents",
    f"""
    WITH d AS (
      SELECT doc_id, {tk.space_tokens_sql('text')} AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
        greatest(CAST(ceil((len(toks) - 8) / 56.0) AS BIGINT), 1) AS n_chunks
      FROM d
    ),
    e AS (
      SELECT doc_id, toks, unnest(generate_series(1, n_chunks)) AS i FROM c
    )
    SELECT doc_id, i - 1 AS chunk_idx,
      array_to_string(toks[(i-1)*56+1 : (i-1)*56+64], ' ') AS chunk_text,
      len(toks[(i-1)*56+1 : (i-1)*56+64]) AS n_tokens
    FROM e
    """,
    doc="context-window chunking: 64-token windows, 8-token overlap, tail kept — "
        "map-side posexplode over computed offsets, no shuffle at any scale",
)
def _chunk(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = ch.chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long"),
        "chunk_text",
        F.col("n_tokens").cast("long"),
    )


@_q(
    "pack_token_windows",
    f"""
    SELECT doc_id, source, n_tokens,
      CAST(floor((CAST(cum - n_tokens AS DOUBLE)) / 2000.0) AS BIGINT) AS window_id
    FROM (
      SELECT doc_id, source, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC) AS cum
      FROM (SELECT doc_id, source,
              CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens
            FROM documents)
    )
    """,
    doc="greedy context-window packing: per-source running token total, window id "
        "by budget division — ONE shuffle on the packing key (window cumsum)",
)
def _pack(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", "source", F.size(tk.space_tokens("text")).cast("long").alias("n_tokens")
    )
    out = ch.pack_token_windows(
        with_counts, "doc_id", "n_tokens", budget=2000, pack_by="source"
    )
    return out.select("doc_id", "source", "n_tokens", "window_id")


@_q(
    "redact_pii",
    """
    SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            substring(text, 1, 40) || ' reach me: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 (555) 010-1234 or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7',
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
        '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS redacted
    FROM documents
    """,
    doc="PII scrubbing (emails / phone runs / IPv4 -> typed tags) over text with "
        "synthetic injected PII so the redaction provably fires; RE2-safe patterns "
        "run identically in Spark (java regex) and the oracle; map-only",
)
def _pii(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" reach me: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-1234 or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("seeded"),
    )
    return seeded.select("doc_id", tx.redact_pii("seeded").alias("redacted"))


@_q(
    "tfidf_top_terms",
    f"""
    WITH terms AS (
      SELECT doc_id,
        unnest(list_filter({tk.space_tokens_sql('lower(text)')}, x -> len(x) >= 4)) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
    SELECT doc_id, term, CAST(round(tfidf, 6) AS DOUBLE) AS tfidf FROM (
      SELECT tf.doc_id, tf.term,
        CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf,
        row_number() OVER (
          PARTITION BY tf.doc_id
          ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) DESC,
                   tf.term ASC) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n) s
    WHERE rk <= 3
    """,
    doc="top-3 characteristic terms per document by tf-idf: explode + two hash "
        "aggs + broadcast corpus size + WindowGroupLimit top-k; the doc-frequency "
        "side is the vocabulary (tiny vs corpus) — AQE-broadcastable at scale; "
        "scores rounded to 6dp because libm ln() differs by 1 ULP across engines",
)
def _tfidf(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = tx.tf_idf_top_terms(docs, "doc_id", "text", k=3, min_term_len=4)
    return out.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


@_q(
    "repetition_scores",
    f"""
    WITH toks AS (SELECT doc_id, {tk.space_tokens_sql('lower(text)')} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tstats AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
      FROM tok GROUP BY doc_id),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks),
    gc AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram FROM idx)
      GROUP BY doc_id, gram),
    gstats AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_grams,
             COUNT(*) AS n_distinct_grams
      FROM gc GROUP BY doc_id)
    SELECT ts.doc_id, ts.n_tokens,
      CAST(1 AS DOUBLE) - CAST(ts.n_distinct AS DOUBLE)
        / greatest(CAST(ts.n_tokens AS DOUBLE), CAST(1 AS DOUBLE)) AS dup_token_frac,
      CAST(gs.top_c AS DOUBLE)
        / greatest(CAST(gs.n_grams AS DOUBLE), CAST(1 AS DOUBLE)) AS top_gram_frac,
      CAST(1 AS DOUBLE) - CAST(gs.n_distinct_grams AS DOUBLE)
        / greatest(CAST(gs.n_grams AS DOUBLE), CAST(1 AS DOUBLE)) AS dup_gram_frac
    FROM tstats ts LEFT JOIN gstats gs USING (doc_id)
    """,
    doc="Gopher-style repetition quality metrics (dup-token fraction, top-bigram "
        "fraction, dup-bigram fraction) per document: staged token array, two "
        "explode->hash-agg branches joined on doc id; ratios are single double "
        "divisions of exact counts — the standard boilerplate/spam filter inputs",
)
def _repetition(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.repetition_metrics(docs, "doc_id", "text", n=2)


@_q(
    "decontaminate_overlap",
    f"""
    WITH toks AS (SELECT doc_id, {tk.space_tokens_sql('lower(text)')} AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i FROM toks),
    grams AS (SELECT doc_id, array_to_string(t[i:i+3], ' ') AS gram FROM idx),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench USING (gram))
    SELECT d.doc_id,
      CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    doc="benchmark decontamination (GPT-3 §C n-gram overlap, n=4 on the tiny-"
        "vocab fixture): the benchmark gram set (docs with id % 97 == 0) is "
        "distinct-ed and broadcast, the corpus probe is a map-only broadcast "
        "semi-join on exploded grams — no corpus-side shuffle at any scale",
)
def _decon(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return tx.contamination_flags(docs, bench, "doc_id", "text", n=4)


@_q(
    "domain_stats",
    """
    WITH seeded AS (
      SELECT doc_id, n_chars,
        'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.site'
          || CAST(doc_id % 3 AS VARCHAR) || '.com/docs/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    hosts AS (
      SELECT doc_id, n_chars,
        regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host
      FROM seeded)
    SELECT regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$', 1) AS domain,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
      CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_weight
    FROM hosts GROUP BY domain
    """,
    doc="C4-style per-registered-domain curation stats over synthetic injected "
        "URLs (so extraction provably fires): RE2-safe host + two-label domain "
        "regex shared with the oracle, one hash agg keyed by domain — the "
        "aggregate is dashboard-sized at any corpus scale",
)
def _domains(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://cdn"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return tx.domain_stats(seeded, "url", weight_col="n_chars")


@_q(
    "token_divergence",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({tk.space_tokens_sql('lower(text)')}) AS tok FROM documents),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    withn AS (
      SELECT doc_id, tok, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc),
    corpus AS (SELECT tok, SUM(c) AS cc FROM tc GROUP BY tok),
    tot AS (SELECT SUM(cc) AS t FROM corpus),
    scored AS (
      SELECT w.doc_id, w.n,
        CAST(w.c AS DOUBLE) / CAST(w.n AS DOUBLE) AS p,
        CAST(corpus.cc AS DOUBLE) / CAST(tot.t AS DOUBLE) AS q
      FROM withn w JOIN corpus USING (tok) CROSS JOIN tot)
    SELECT doc_id,
      CAST(MIN(n) AS BIGINT) AS n_tokens,
      CAST(round(-SUM(p * ln(p)), 6) AS DOUBLE) AS entropy,
      CAST(round(SUM(p * ln(p / q)), 6) AS DOUBLE) AS kl_vs_corpus
    FROM scored GROUP BY doc_id
    """,
    doc="per-document token-distribution entropy (repetitiveness) and KL "
        "divergence vs the corpus unigram distribution (domain-outlier score): "
        "explode -> per-(doc,token) counts, window totals on the same doc-id "
        "partitioning, vocabulary-sized corpus join (AQE-broadcastable), one "
        "final per-doc agg; 6dp rounding absorbs libm ln ULP and float "
        "summation-order drift",
)
def _tok_div(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.token_divergence_stats(docs, "doc_id", "text")


_NFC_SUFFIX = "\tCafé  beep\x07 ok "

@_q(
    "text_normalize_nfc",
    f"""
    SELECT doc_id,
      nfc_normalize(trim({tk.collapse_whitespace_sql('s')})) AS norm_text
    FROM (SELECT doc_id, regexp_replace(
        substring(text, 1, 60) || '{_NFC_SUFFIX}',
        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS s
      FROM documents)
    """,
    doc="Unicode canonicalization for dedup keys (control-strip, whitespace "
        "collapse, NFC compose) over text with injected tab / BEL / combining-"
        "acute sequences so every pass provably fires: byte passes are JVM "
        "regexp (codegen), NFC is the one Arrow-batched stdlib-unicodedata hop "
        "(Spark has no NFC built-in); map-only, oracle via nfc_normalize",
)
def _nfc_norm(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(F.substring("text", 1, 60), F.lit(_NFC_SUFFIX)).alias("raw"),
    )
    return tx.normalize_text(seeded, "raw", out_col="norm_text").select(
        "doc_id", "norm_text"
    )


@_q(
    "cross_source_contamination",
    """
    WITH corpus AS (
      SELECT source, text FROM documents
      UNION ALL
      -- cross-posts: every 7th doc republished under the next source id
      -- (7 is coprime to the 20-source cycle, so every source pair fires)
      SELECT 'src' || CAST((CAST(substring(source, 4) AS BIGINT) + 1) % 20
        AS VARCHAR) AS source, text
      FROM documents WHERE doc_id % 7 = 0),
    fp AS (
      SELECT DISTINCT source, md5(text) AS fp FROM corpus)
    SELECT a.source AS source_a, b.source AS source_b,
      CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc="cross-source contamination matrix — the train/test leakage audit: "
        "which pairs of sources share identical content fingerprints (every "
        "7th doc is republished under the neighboring source — 7 is coprime "
        "to the 20-source cycle, so every neighbor pair provably overlaps).  The corpus collapses to DISTINCT (source, md5) "
        "once — everything after runs on that fingerprint frame, so the "
        "pair join is fingerprint-cardinality, never corpus-cardinality, and "
        "a fp shared by k sources costs k(k-1)/2 pairs, not a corpus scan",
)
def _contamination(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("source", "text")
    crossposts = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(
            F.lit("src"),
            ((F.substring("source", 4, 10).cast("bigint") + 1) % 20).cast("string"),
        ).alias("source"),
        "text",
    )
    fp = (
        base.unionAll(crossposts)
        .select("source", F.md5("text").alias("fp"))
        .distinct()
    )
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


#: Shared oracle expression for the hashing-trick weight sum over a
#: text column — used by quality_classifier_scores,
#: dedup_survivor_by_quality and corpus_filter_funnel.
_SQL_HASH_WSUM = (
    f"list_sum(list_transform({tk.space_tokens_sql('text')}, "
    "t -> (('0x' || substring(md5(t), 1, 8))::BIGINT % 2001) - 1000))"
)


@_q(
    "quality_classifier_scores",
    f"""
    WITH s AS (
      SELECT doc_id,
        CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens,
        CAST({_SQL_HASH_WSUM} AS BIGINT) AS w_sum
      FROM documents)
    SELECT doc_id, n_tokens, w_sum,
      round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE)
        / (n_tokens * 1000.0)))), 6) AS score,
      w_sum >= 0 AS keep
    FROM s
    """,
    doc="model-based quality filtering (the fastText-style linear scorer "
        "of CCNet/DCLM): tokens hash into a weight table, weights sum to "
        "an exact BIGINT inside one JVM higher-order aggregate, sigmoid of "
        "the mean weight is the keep probability.  Weights here are a "
        "deterministic function of the hash so DuckDB replays the exact "
        "model; production swaps the lambda body for an element_at lookup "
        "into a broadcast trained-weight array — same map-only plan.  The "
        "keep decision compares the INTEGER sum (not the rounded float), "
        "so the boundary is bit-deterministic at any partitioning.  Zero "
        "shuffles: cheapest possible corpus pass.",
)
def _quality_classifier(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.quality_classifier(docs, "doc_id", "text")


@_q(
    "line_boilerplate_removal",
    rf"""
    WITH docs2 AS (
      SELECT doc_id, source,
        'home | about | contact | ' || source || chr(10) || text || chr(10)
          || '(c) 2026 ' || source || ' all rights reserved' AS text
      FROM documents),
    parts AS (
      SELECT doc_id, source, {tk.lines_sql('text')} AS p FROM docs2),
    lines AS (
      SELECT doc_id, source, p,
        unnest(generate_series(1, len(p))) AS pos
      FROM parts),
    sel AS (
      SELECT doc_id, source, pos, p[pos] AS line,
        lower(trim({tk.collapse_whitespace_sql('p[pos]')})) AS norm
      FROM lines),
    gd AS (SELECT source, COUNT(DISTINCT doc_id) AS g_docs
           FROM docs2 GROUP BY source),
    lc AS (SELECT source, norm, COUNT(DISTINCT doc_id) AS l_docs
           FROM sel GROUP BY source, norm),
    bp AS (
      SELECT lc.source, lc.norm FROM lc JOIN gd ON lc.source = gd.source
      WHERE lc.l_docs >= 3 AND lc.l_docs >= 0.5 * gd.g_docs),
    kept AS (
      SELECT s.doc_id, s.pos, s.line FROM sel s
      WHERE NOT EXISTS (
        SELECT 1 FROM bp WHERE bp.source = s.source AND bp.norm = s.norm)),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id, d.source,
      CAST(len({tk.lines_sql('d.text')}) AS BIGINT) AS n_lines,
      COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
      md5(COALESCE(a.clean_text, '')) AS clean_fp
    FROM docs2 d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    doc="line-level boilerplate removal (CCNet/RefinedWeb line dedup): a "
        "line occurring in >=50% (and >=3) of its source's documents is "
        "template chrome — nav/footer/cookie banner — and dies; the same "
        "words quoted in one document elsewhere survive.  Fixtures have "
        "single-line docs, so the query injects a per-source header and "
        "footer line around every body (header+footer hit 25/25 docs per "
        "source -> removed; each unique body stays), making the removal "
        "provable: clean_fp must equal md5 of the ORIGINAL body.  Scale: "
        "posexplode -> one count-distinct shuffle bounded by distinct "
        "(source, line) -> tiny boilerplate set broadcast left-anti -> one "
        "groupBy(doc) reassembly.  Never corpus x corpus.",
)
def _line_boilerplate(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    docs3 = docs.withColumn(
        "text",
        F.concat(
            F.lit("home | about | contact | "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("(c) 2026 "), F.col("source"),
            F.lit(" all rights reserved"),
        ),
    )
    out = tx.remove_boilerplate_lines(
        docs3, "doc_id", "text", "source", min_frac=0.5, min_docs=3
    )
    return out.select(
        "doc_id", "source", "n_lines", "n_kept",
        F.md5("clean_text").alias("clean_fp"),
    )


@_q(
    "html_text_extraction",
    rf"""
    WITH seeded AS (
      SELECT doc_id,
        '<html><head><style>p {{ color: red }}</style><title>t</title></head>'
          || '<body><h1>' || source || '</h1><p>' || text
          || '</p><script type="text/javascript">var x = 1 < 2;</script>'
          || '<div>&amp; &lt;tail&gt;&nbsp;&quot;end&quot;</div></body></html>'
          AS html
      FROM documents)
    SELECT doc_id, trim({tk.collapse_whitespace_sql('body')}) AS extracted
    FROM (SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(html,
                        '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                      '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                    '(?s)<[^>]+>', ' ', 'g'),
                  '&nbsp;', ' ', 'g'),
                '&lt;', '<', 'g'),
              '&gt;', '>', 'g'),
            '&quot;', '"', 'g'),
          '&amp;', '&', 'g') AS body
      FROM seeded)
    """,
    doc="WET-style HTML text extraction ahead of cleaning/dedup: script and "
        "style blocks die WITH their contents (two RE2-safe passes — no "
        "backreference, the oracle's regex engine has none), remaining tags "
        "become spaces, core entities decode, whitespace collapses.  The "
        "query wraps every fixture body in a full HTML shell (head/style/"
        "script/entities) so the strip provably fires: the result must be "
        "'<h1 text> <body text> & <tail> \"end\"' exactly.  Map-only "
        "whole-stage codegen; a production pipeline swaps a DOM extractor "
        "in via mapInPandas only where regex fidelity isn't enough.",
)
def _html_extract(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p { color: red }</style>"
                  "<title>t</title></head><body><h1>"),
            F.col("source"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit('</p><script type="text/javascript">var x = 1 < 2;'
                  "</script><div>&amp; &lt;tail&gt;&nbsp;&quot;end&quot;"
                  "</div></body></html>"),
        ).alias("html"),
    )
    return seeded.select("doc_id", tx.strip_html("html").alias("extracted"))


@_q(
    "corpus_filter_funnel",
    f"""
    WITH flags AS (
      SELECT
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL THEN 1 ELSE 0 END AS s1,
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL
              AND n_chars >= 150 THEN 1 ELSE 0 END AS s2,
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL
              AND n_chars >= 150 AND lang = 'en' THEN 1 ELSE 0 END AS s3,
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL
              AND n_chars >= 150 AND lang = 'en'
              AND {_SQL_HASH_WSUM} >= 0
             THEN 1 ELSE 0 END AS s4,
        1 AS s0
      FROM documents),
    tot AS (
      SELECT CAST(SUM(s0) AS BIGINT) AS n0, CAST(SUM(s1) AS BIGINT) AS n1,
        CAST(SUM(s2) AS BIGINT) AS n2, CAST(SUM(s3) AS BIGINT) AS n3,
        CAST(SUM(s4) AS BIGINT) AS n4
      FROM flags)
    SELECT 0 AS stage, 'ingested' AS stage_name, n0 AS n_docs,
      CAST(0 AS BIGINT) AS n_rejected FROM tot
    UNION ALL SELECT 1, 'non_null', n1, n0 - n1 FROM tot
    UNION ALL SELECT 2, 'min_length', n2, n1 - n2 FROM tot
    UNION ALL SELECT 3, 'lang_en', n3, n2 - n3 FROM tot
    UNION ALL SELECT 4, 'quality_model', n4, n3 - n4 FROM tot
    """,
    doc="filter-funnel attrition report — the pipeline-observability view "
        "every production corpus build ships with: one corpus pass computes "
        "every stage's cumulative survival flag (null-check -> min-length "
        "-> language -> model-based quality), ONE combinable aggregate "
        "sums them, and the 5-row funnel (stage, survivors, rejected-at-"
        "stage) unpivots from that single row.  Rejection counts per stage "
        "fall out of adjacent differences — no per-stage rescan, no "
        "count() loop; the whole report costs one scan at any corpus size.",
)
def _filter_funnel(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    s1 = F.col("text").isNotNull() & F.col("lang").isNotNull()
    s2 = s1 & (F.col("n_chars") >= 150)
    s3 = s2 & (F.col("lang") == "en")
    keep = tx.hashed_linear_score("text")["w_sum"] >= 0
    s4 = s3 & keep
    flag = lambda c: F.sum(c.cast("int").cast("bigint"))  # noqa: E731
    tot = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        flag(s1).alias("n1"),
        flag(s2).alias("n2"),
        flag(s3).alias("n3"),
        flag(s4).alias("n4"),
    )
    return tot.selectExpr(
        """stack(5,
            0L, 'ingested',      n0, 0L,
            1L, 'non_null',      n1, n0 - n1,
            2L, 'min_length',    n2, n1 - n2,
            3L, 'lang_en',       n3, n2 - n3,
            4L, 'quality_model', n4, n3 - n4
        ) AS (stage, stage_name, n_docs, n_rejected)"""
    )


@_q(
    "bigram_logprob_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, {tk.space_tokens_sql('text')} AS p FROM documents),
    pos AS (
      SELECT doc_id, p, unnest(generate_series(1, len(p) - 1)) AS i
      FROM toks WHERE len(p) >= 2),
    bg AS (
      SELECT doc_id, p[i] || ' ' || p[i+1] AS g, p[i] AS w1 FROM pos),
    c12 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY g),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1),
    scored AS (
      SELECT bg.doc_id,
        CAST(round(ln(CAST(c12.c AS DOUBLE) / CAST(c1.c AS DOUBLE)), 6)
             AS DECIMAL(20,6)) AS lp
      FROM bg JOIN c12 ON bg.g = c12.g JOIN c1 ON bg.w1 = c1.w1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="corpus-bigram language-model scoring (the CCNet/KenLM perplexity "
        "filter's shape, with the corpus itself as the LM): every bigram "
        "scores ln P(w2|w1) from the corpus bigram/left-unigram counts, "
        "and a document's quality proxy is its mean bigram log-prob — "
        "boilerplate-heavy docs score high, token soup scores low.  "
        "Float discipline: each log-prob is 6dp-rounded then summed as "
        "DECIMAL(20,6) — the per-doc sum is order-independent at any "
        "partitioning (a raw double sum would drift with addend order); "
        "one final division, rounded.  Plan: two vocabulary-bounded "
        "count shuffles, broadcastable joins back onto the bigram "
        "stream, one doc-keyed agg.",
)
def _bigram_lm(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", tk.space_tokens("text").alias("toks"))
    # docs with fewer than 2 tokens have no bigrams
    grams = F.when(F.size("toks") >= 2, tk.word_ngrams("toks", 2))
    grams = grams.otherwise(F.array().cast("array<string>"))
    bg = base.select("doc_id", F.explode(grams).alias("g")).withColumn(
        "w1", F.substring_index("g", " ", 1)
    )
    c12 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    lp = F.round(
        F.log(F.col("c12").cast("double") / F.col("c1").cast("double")), 6
    ).cast("decimal(20,6)")
    scored = (
        bg.join(F.broadcast(c12), "g")
        .join(F.broadcast(c1), "w1")
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


#: Broadcast weight table for the bucketed classifier: 64 integer weights
#: derived from a Knuth multiplicative hash of the bucket index — pure
#: Python at module load, embedded as a literal in BOTH dialects so the
#: table is provably shared.
_BUCKET_WEIGHTS = [((i * 2654435761) % 2001) - 1000 for i in range(64)]
_SQL_WEIGHTS = "[" + ", ".join(str(w) for w in _BUCKET_WEIGHTS) + "]"


@_q(
    "quality_classifier_bucketed",
    f"""
    WITH s AS (
      SELECT doc_id,
        CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens,
        CAST(list_sum(list_transform({tk.space_tokens_sql('text')},
          t -> list_extract({_SQL_WEIGHTS},
            CAST(('0x' || substring(md5(t), 1, 8))::BIGINT % 64 AS INTEGER)
              + 1))) AS BIGINT) AS w_sum
      FROM documents)
    SELECT doc_id, n_tokens, w_sum,
      round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE)
        / (n_tokens * 1000.0)))), 6) AS score,
      w_sum >= 0 AS keep
    FROM s
    """,
    doc="the PRODUCTION shape of the hashing-trick classifier: tokens hash "
        "into a FIXED-SIZE bucket space (64 here) and the weight comes "
        "from an element_at lookup into a broadcast weight table — "
        "exactly how a trained fastText/logistic model deploys (weights "
        "arrive as a literal/broadcast array, not a function of the "
        "hash).  The table is generated once in Python and embedded in "
        "both dialects, so the oracle provably runs the same model.  "
        "Still one JVM higher-order aggregate per row: map-only, exact "
        "BIGINT sum, bit-deterministic keep boundary.  Companion to "
        "quality_classifier_scores (hash-derived weights, unbounded "
        "bucket space).",
)
def _quality_bucketed(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    arr = F.array(*[F.lit(w) for w in _BUCKET_WEIGHTS])
    toks = tk.space_tokens("text")
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(
            arr,
            (
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % 64
            ).cast("int")
            + 1,
        ).cast("bigint"),
    )
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        w_sum.alias("w_sum"),
    )
    logit = F.col("w_sum") / (F.col("n_tokens") * F.lit(1000.0))
    return out.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
        (F.col("w_sum") >= 0).alias("keep"),
    )


@_q(
    "pmi_top_bigrams",
    f"""
    WITH toks AS (
      SELECT unnest({tk.space_tokens_sql('lower(text)')}) AS w FROM documents),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni),
    bi AS (
      SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_ab FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 1, 1)),
                 i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS p
        FROM (SELECT {tk.space_tokens_sql('lower(text)')} AS ws FROM documents)
        WHERE len(ws) >= 2)
      GROUP BY 1, 2),
    nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bi FROM bi)
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
      round(ln((CAST(c_ab AS DOUBLE) / n_bi)
               / ((CAST(ua.c AS DOUBLE) / n_uni)
                  * (CAST(ub.c AS DOUBLE) / n_uni))), 6) AS pmi
    FROM bi JOIN uni ua ON bi.w1 = ua.w
    JOIN uni ub ON bi.w2 = ub.w, nu, nb
    WHERE c_ab >= 50
    ORDER BY pmi DESC, w1, w2 LIMIT 100
    """,
    doc="top PMI collocations: pointwise mutual information over corpus "
        "bigrams (min count 50) — the classic phrase/collocation miner "
        "for tokenizer and quality work.  Unigram and bigram counts "
        "partial-aggregate map-side (vocabulary-bounded shuffles); the "
        "two corpus totals come back as broadcast 1-row aggregates; the "
        "PMI expression is the identical double op tree on both engines "
        "rounded to 6dp (ln may differ in the last ulp across libm "
        "implementations); top-100 is TakeOrdered with (w1, w2) "
        "tiebreak, never a global sort.",
)
def _pmi(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    toks = tk.space_tokens(F.lower(F.col("text")))
    ex = spread(docs.select(toks.alias("ws")))
    uni = (
        ex.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = ex.filter(F.size("ws") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("ws") - 1, F.lit(1))),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("w1"),
                    F.element_at("ws", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    )
    bi = (
        pairs.select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 50)
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    n_bi_all = (
        pairs.agg(F.count(F.lit(1)).cast("double").alias("n_bi"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_bi"))
            / (
                (F.col("c_a").cast("double") / F.col("n_uni"))
                * (F.col("c_b").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_all))
        .select(
            "w1", "w2", F.col("c_ab").cast("long").alias("c_ab"), pmi.alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


@_q(
    "gopher_quality_rules",
    f"""
    WITH s AS (
      SELECT doc_id, text, {tk.space_tokens_sql('text')} AS w
      FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
          / len(w), 6) AS mean_word_len,
        round(CAST((len(text) - len(replace(text, '#', '')))
          + (len(text) - len(replace(text, '...', ''))) / 3 AS DOUBLE)
          / len(w), 6) AS symbol_ratio,
        round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
          AS DOUBLE) / len(w), 6) AS frac_alpha_words,
        CAST(len(list_filter(
          ['the','be','to','of','and','that','have','with'],
          st -> list_contains(w, st))) AS BIGINT) AS n_required_stops
      FROM s),
    r AS (
      SELECT *,
        (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
        (symbol_ratio <= 0.1) AS r_symbol_ratio,
        (frac_alpha_words >= 0.8) AS r_alpha_words,
        (n_required_stops >= 2) AS r_stopwords
      FROM m)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha_words,
      n_required_stops, r_word_count, r_mean_word_len, r_symbol_ratio,
      r_alpha_words, r_stopwords,
      (r_word_count AND r_mean_word_len AND r_symbol_ratio
        AND r_alpha_words AND r_stopwords) AS gopher_keep
    FROM r
    """,
    doc="Gopher quality-rule battery (Rae et al. 2021 Appendix A1.1, the "
        "document-level subset): word-count bounds, mean word length, "
        "symbol-to-word ratio, alpha-word fraction, required-stopword "
        "presence, and the conjunction keep flag — the standard "
        "heuristic pre-filter ahead of model-based scoring "
        "(quality_classifier_scores) in an LLM data pipeline.  Pure "
        "map-only JVM expressions, token array staged once; exact "
        "integer counts until the final double division.  Operator: "
        "operators/text.py gopher_rules",
)
def _gopher(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = tx.gopher_rules(docs.filter(F.col("text").isNotNull()), "text")
    return out.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "frac_alpha_words", "n_required_stops", "r_word_count",
        "r_mean_word_len", "r_symbol_ratio", "r_alpha_words",
        "r_stopwords", "gopher_keep",
    )


@_q(
    "bpe_pair_counts",
    f"""
    WITH words AS (
      SELECT unnest({tk.alpha_words_sql('text')}) AS w
      FROM documents),
    wc AS (SELECT w, COUNT(*) AS c FROM words WHERE length(w) >= 2 GROUP BY w),
    pairs AS (
      SELECT substring(w, CAST(i AS INT), 1) AS a,
             substring(w, CAST(i AS INT) + 1, 1) AS b, c
      FROM wc, unnest(range(1, length(w))) AS t(i)),
    agg AS (
      SELECT a AS left_sym, b AS right_sym, CAST(SUM(c) AS BIGINT) AS n
      FROM pairs GROUP BY a, b)
    SELECT * FROM agg ORDER BY n DESC, left_sym, right_sym LIMIT 100
    """,
    doc="BPE tokenizer-training statistic (Sennrich et al. 2016), hash-"
        "verified: corpus-weighted adjacent character-pair frequencies — "
        "the argmax a BPE trainer's first merge takes — with the top-100 "
        "pinned under a (count, pair) total order.  Plan: ONE corpus "
        "shuffle into the word-frequency table, then a map-only pair "
        "explode over the VOCABULARY (never the corpus again — the "
        "trainer's core scale trick) and an alphabet²-bounded count "
        "shuffle; top-k is TakeOrdered, no global sort.  Operators: "
        "operators/text.py bpe_word_freq / bpe_pair_counts",
)
def _bpepairs(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        tx.bpe_pair_counts(docs, "text")
        .orderBy(F.desc("n"), "left_sym", "right_sym")
        .limit(100)
    )


@_q(
    "bpe_train_merges",
    None,
    doc="full BPE TRAINING loop, distributed (Sennrich et al. 2016): 12 "
        "merge rules learned from the documents corpus in deterministic "
        "order (count-desc, pair-lex tiebreak).  Corpus is read once into "
        "the word-frequency table; each iteration is a vocabulary-bounded "
        "pair-count shuffle + a 1-row TakeOrdered argmax + a map-only "
        "greedy merge fold (pure JVM `aggregate`, overlapping runs merge "
        "left-first), with localCheckpoint lineage truncation every 4 "
        "rounds.  Rows-only by nature (iterative argmax is not SQL-"
        "expressible); the merge sequence is pinned by pytest against a "
        "pure-Python reference trainer.  Operator: operators/text.py "
        "bpe_train",
)
def _bpetrain(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.bpe_train(docs, "text", n_merges=12)


#: Fixed BPE merge table for the registered (hash-verified) encoder
#: form — common English digraphs, rank order.  Every pair has left ≠
#: right: that is the precondition under which the oracle's
#: double-replace fold is EXACTLY greedy left-to-right BPE (a (x,x)
#: merge over a run of 5+ identical symbols is the one case where the
#: space-delimited string rewrite segments differently; property-tested
#: in tests/test_llm_ops.py over 120k random word×table combinations).
_BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def _bpe_fold_sql(expr: str) -> str:
    """Nest the fixed merge table into a DuckDB expression: one merge =
    two successive replace() passes over the space-delimited symbol
    string (pass 1 is greedy left-to-right but consumes the shared
    delimiter of back-to-back occurrences; pass 2 merges exactly the
    occurrences greedy BPE would have taken — left≠right makes new
    matches impossible, so the composition is exact)."""
    for a, b in _BPE_FIXED_MERGES:
        pat, rep = f"' {a} {b} '", f"' {a}{b} '"
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return expr


_BPE_CHARS_SQL = "(' ' || regexp_replace(w, '(.)', '\\1 ', 'g'))"


@_q(
    "bpe_encode_tokens",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({tk.alpha_words_sql('text')}) AS w
      FROM documents),
    s AS (SELECT doc_id,
            {_bpe_fold_sql(_BPE_CHARS_SQL)} AS s
          FROM w WHERE length(w) >= 1)
    SELECT doc_id,
      CAST(SUM(length({tk.space_tokens_sql('trim(s)')})) AS BIGINT) AS n_bpe_tokens
    FROM s GROUP BY doc_id
    """,
    doc="tokenizer APPLICATION at corpus scale, HASH-VERIFIED (r8 verdict "
        "item 5: was rows-only): a FIXED 8-merge table (common English "
        "digraphs, embedded in both dialects like the "
        "quality_classifier_bucketed trick) applied through the "
        "dictionary-join encoder — merge folds run over the distinct-word "
        "VOCABULARY only, the corpus joins each word occurrence to its "
        "precomputed segmentation and reassembles documents in order (the "
        "word-level cache every production BPE encoder uses, as a join; a "
        "per-row fold would nest every merge into the corpus scan).  "
        "Returns per-doc BPE token counts.  The oracle replays greedy BPE "
        "as a double-replace fold over space-delimited symbols (exact for "
        "left≠right merges; property-tested).  The TRAINED-table form "
        "(learned merges upstream) stays exercised by bpe_train_merges + "
        "the pytest pure-Python-reference pin.  Operator: "
        "operators/text.py bpe_encode",
)
def _bpeencode(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    enc = tx.bpe_encode(docs, "doc_id", "text", _BPE_FIXED_MERGES)
    return enc.select(
        "doc_id", F.size("bpe_syms").cast("long").alias("n_bpe_tokens")
    )


@_q(
    "c4_cleaning_rules",
    rf"""
    WITH seeded AS (
      SELECT doc_id,
        'Document ' || CAST(doc_id AS VARCHAR) || ' from source ' || source
          || ' opens with a clean first sentence.' || chr(10)
        || CASE WHEN doc_id % 2 = 0
             THEN 'It also carries a second well formed sentence right here.'
             ELSE 'second line lacking any terminal mark' END || chr(10)
        || CASE WHEN doc_id % 3 = 0
             THEN 'And a third sentence appears in every third document.'
             ELSE 'filler words continuing without punctuation' END || chr(10)
        || 'tiny line.' || chr(10)
        || 'Please enable javascript to continue reading this content.'
          || chr(10)
        || CASE WHEN doc_id % 7 = 0
             THEN 'Standard lorem ipsum placeholder text lives in this sentence.'
             ELSE 'A normal closing sentence finishes the document nicely.' END
          || chr(10)
        || CASE WHEN doc_id % 11 = 0
             THEN 'var config = {{ "a": 1 }};'
             ELSE 'closing filler again with no ending' END || chr(10)
        || text AS t
      FROM documents),
    lines AS (
      SELECT doc_id, t,
        list_transform({tk.lines_sql('t')}, l -> trim(l)) AS ln
      FROM seeded),
    kept AS (
      SELECT doc_id, t, ln,
        list_filter(ln, l ->
          substr(l, -1, 1) IN ('.', '!', '?', '"')
          AND len(list_filter({tk.space_tokens_sql('l')}, w -> w <> '')) >= 5
          AND NOT contains(lower(l), 'javascript')) AS kl
      FROM lines),
    agg AS (
      SELECT doc_id, t,
        CAST(len(ln) AS BIGINT) AS n_lines,
        CAST(len(kl) AS BIGINT) AS n_kept,
        array_to_string(kl, chr(10)) AS clean_text
      FROM kept)
    SELECT doc_id, n_lines, n_kept,
      CAST(length(clean_text)
           - length(translate(clean_text, '.!?', '')) AS BIGINT) AS n_sentences,
      contains(lower(t), 'lorem ipsum') AS has_lorem,
      contains(t, '{{') AS has_brace,
      (CAST(length(clean_text)
            - length(translate(clean_text, '.!?', '')) AS BIGINT) >= 3
       AND NOT contains(lower(t), 'lorem ipsum')
       AND NOT contains(t, '{{')) AS c4_keep,
      md5(clean_text) AS clean_fp
    FROM agg
    """,
    doc="C4 cleaning battery (Raffel et al. 2020 §2.2), hash-verified: "
        "line-level keep = terminal punctuation AND ≥5 words AND no "
        "'javascript'; page-level drop = <3 surviving sentences, 'lorem "
        "ipsum', or a curly brace.  Fixture docs are single-line and "
        "punctuation-free, so the query seeds a deterministic 8-line page "
        "around every body — a doc_id-keyed opening sentence, parity/"
        "third-document conditional sentences, a too-short line, a "
        "javascript banner, a %7 lorem line, a %11 code line, and the raw "
        "body — making every rule provably fire in BOTH directions; "
        "clean_fp pins the surviving lines and their order.  All map-only "
        "array/string codegen over one staged split, no shuffle.  "
        "Operator: operators/text.py c4_rules",
)
def _c4(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    seeded = docs.withColumn(
        "t",
        F.concat(
            F.lit("Document "), F.col("doc_id").cast("string"),
            F.lit(" from source "), F.col("source"),
            F.lit(" opens with a clean first sentence."), nl,
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("It also carries a second well formed sentence right here."),
            ).otherwise(F.lit("second line lacking any terminal mark")), nl,
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("And a third sentence appears in every third document."),
            ).otherwise(F.lit("filler words continuing without punctuation")), nl,
            F.lit("tiny line."), nl,
            F.lit("Please enable javascript to continue reading this content."), nl,
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("Standard lorem ipsum placeholder text lives in this sentence."),
            ).otherwise(
                F.lit("A normal closing sentence finishes the document nicely.")
            ), nl,
            F.when(
                F.col("doc_id") % 11 == 0, F.lit('var config = { "a": 1 };')
            ).otherwise(F.lit("closing filler again with no ending")), nl,
            F.col("text"),
        ),
    )
    out = tx.c4_rules(seeded, "t")
    return out.select(
        "doc_id", "n_lines", "n_kept", "n_sentences",
        "has_lorem", "has_brace", "c4_keep",
        F.md5("clean_text").alias("clean_fp"),
    )


@_q(
    "keyness_log_odds",
    f"""
    WITH toks AS (
      SELECT doc_id % 2 AS s,
        unnest({tk.space_tokens_sql('lower(text)')}) AS word
      FROM documents),
    w AS (
      SELECT word,
        CAST(COUNT(*) FILTER (WHERE s = 1) AS BIGINT) AS y1,
        CAST(COUNT(*) FILTER (WHERE s = 0) AS BIGINT) AS y0
      FROM toks WHERE word <> '' GROUP BY word),
    t AS (
      SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y0) AS BIGINT) AS n0
      FROM w),
    m AS (
      SELECT word, y1, y0, n1, n0,
        CAST(1000 * (y1 + y0) AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) AS a_w
      FROM w, t WHERE y1 + y0 >= 5),
    e AS (
      SELECT word, y1, y0,
        ln((CAST(y1 AS DOUBLE) + a_w) /
           (CAST(n1 + 1000 - y1 AS DOUBLE) - a_w))
        - ln((CAST(y0 AS DOUBLE) + a_w) /
             (CAST(n0 + 1000 - y0 AS DOUBLE) - a_w)) AS delta,
        CAST(y1 AS DOUBLE) + a_w AS num1,
        CAST(y0 AS DOUBLE) + a_w AS num0
      FROM m),
    z AS (
      SELECT word, y1, y0,
        CAST(round(delta, 6) AS DOUBLE) AS delta6,
        CAST(round(delta / sqrt(1.0 / num1 + 1.0 / num0), 6) AS DOUBLE)
          AS z6
      FROM e)
    SELECT word, y1, y0, delta6, z6
    FROM z ORDER BY abs(z6) DESC, word LIMIT 30
    """,
    doc="weighted log-odds keyness between two corpus slices (Monroe, "
        "Colaresi & Quinn 2008 'Fightin' Words'): the top-30 words whose "
        "usage rate most diverges between the even- and odd-doc_id halves "
        "of the documents corpus, scored by the log-odds-ratio under an "
        "informative Dirichlet prior drawn from the combined corpus and "
        "ranked by |z|.  The topic-drift screen between crawl snapshots — "
        "raw frequency ratios over-rank rare words; the prior shrinks "
        "exactly those.  Exactness: ONE vocabulary-keyed count shuffle "
        "(map-side combined, checkpoint-staged for its totals + per-word "
        "consumers), totals broadcast back as a 1-row cross join, then a "
        "fixed IEEE sequence per word — the two ln() calls are the only "
        "libm steps and 6dp rounding absorbs their ULP (the Benford "
        "log10 precedent); ranking reads the ROUNDED z so top-k is "
        "bit-deterministic.  Operator: operators/text.py log_odds_keyness",
)
def _keyness(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    d = docs.withColumn("__slice", (F.col("doc_id") % 2).cast("long"))
    out = tx.log_odds_keyness(d, "text", "__slice", a0=1000, min_count=5)
    out = out.select(
        "word",
        "y1",
        "y0",
        F.round("delta", 6).alias("delta6"),
        F.round("z", 6).alias("z6"),
    )
    return out.orderBy(F.abs(F.col("z6")).desc(), "word").limit(30)


@_q(
    "zipf_vocab_fit",
    f"""
    WITH w AS (
      SELECT unnest({tk.space_tokens_sql('text')}) AS word FROM documents
    ), f AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM w WHERE word <> '' GROUP BY 1
    ), r AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, word ASC)
                     AS DOUBLE)) AS lx,
             ln(CAST(freq AS DOUBLE)) AS ly, freq
      FROM f
    ), a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(freq) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(lx) AS sx, SUM(lx * lx) AS sxx,
             SUM(ly) AS sy, SUM(ly * ly) AS syy, SUM(lx * ly) AS sxy
      FROM r)
    SELECT n_types, n_tokens,
      CAST(round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
        AS zipf_slope,
      CAST(round(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * (sx / n), 6) AS DOUBLE) AS intercept,
      CAST(round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS DOUBLE) AS r2
    FROM a
    """,
    doc="Zipf rank-frequency fit over the corpus vocabulary (Zipf "
        "1949): OLS slope/r2 of ln freq ~ ln rank — natural text sits "
        "near slope −1 with a tight fit, so a bent curve is the cheap "
        "whole-corpus smoke alarm for templated spam or crawler "
        "artifacts, run next to the per-document quality scores.  The "
        "only corpus-sized stage is the unigram count; the rank window "
        "runs over the VOCABULARY (types, not tokens — executor-"
        "trivial even at 100 TB).  Slope/intercept/r2 round to 6dp "
        "(ln ULP + float-sum order).  Operator: operators/text.py "
        "zipf_fit",
)
def _zipf(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.zipf_fit(docs, "text")


@_q(
    "lm_perplexity_scores",
    f"""
    WITH toks AS (
      SELECT doc_id,
        {tk.alpha_words_sql('text')} AS t
      FROM documents),
    pairs AS (
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)),
    db AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3),
    mtoks AS (
      SELECT {tk.alpha_words_sql('text')} AS t
      FROM documents WHERE lang = 'en'),
    mp AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM mtoks, unnest(range(1, len(t))) AS u(i)),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM mp GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM
            (SELECT w1 AS w FROM c12 UNION ALL SELECT w2 AS w FROM c12)),
    sc AS (
      SELECT db.doc_id, db.n,
        CAST(round(ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                      / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)), 8)
          AS DECIMAL(18,8)) AS lp
      FROM db
      LEFT JOIN c12 ON db.w1 = c12.w1 AND db.w2 = c12.w2
      LEFT JOIN c1 ON db.w1 = c1.w1
      CROSS JOIN v),
    doc AS (
      SELECT doc_id, SUM(n) AS n_bigrams,
        SUM(CAST(n AS DECIMAL(10,0)) * lp) AS s
      FROM sc GROUP BY doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      CAST(round(-CAST(s AS DOUBLE) / n_bigrams, 6) AS DOUBLE) AS nll,
      CAST(round(exp(-CAST(s AS DOUBLE) / n_bigrams), 6) AS DOUBLE) AS ppl
    FROM doc
    """,
    doc="Perplexity LM quality filter, REFERENCE-model form (the true "
        "CCNet shape, Wenzek et al. 2020: train a KenLM on clean "
        "Wikipedia, score the crawl, keep the low-perplexity tail): an "
        "add-one-smoothed bigram model trained on the English documents "
        "scores EVERY document's mean negative log-likelihood + "
        "perplexity — non-English docs hit unseen bigrams and left "
        "contexts (c12=0, even c1=0), so the smoothing is load-bearing, "
        "which is the semantic distinction from the unsmoothed MLE "
        "self-scorer bigram_logprob_scores (that form cannot leave its "
        "own training support).  The corpus is read, tokenized and "
        "shuffled ONCE (round 8): the model is a subset of the scored "
        "corpus, so model_flag derives its counts from the same "
        "(doc, bigram) cell table the scoring join consumes — no "
        "second corpus scan; c1 and the vocabulary roll up from the "
        "TYPE table; unseen pairs survive via LEFT joins + coalesce. "
        "Exactness: each ln rounded to 8dp, carried as DECIMAL(18,8), "
        "so per-doc weighted sums are order-independent; only the final "
        "/n and exp() touch doubles (6dp).  Operator: operators/text.py "
        "bigram_lm_scores",
)
def _lm_perplexity(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    # model_flag (not model_df): the reference corpus is a SUBSET of the
    # scored corpus, so the model counts derive from the same tokenize/
    # shuffle as the scoring cells — one corpus pass instead of two
    return tx.bigram_lm_scores(
        docs, "doc_id", "text", model_flag=F.col("lang") == "en"
    )
