"""Deduplication operators for large-scale (LLM) data pipelines.

Beyond the reference's ``dropDuplicates`` (P2,
spark-apps/clean_nyc_taxi_pipeline.py:10), this module implements the
dedup family a 100 TB training-data pipeline needs:

- exact content dedup (hash-groupBy, deterministic representative)
- MinHash + LSH banding near-dedup (shingle -> minhash -> band ->
  bucket join -> verify)
- SimHash near-dedup (token hashing -> bit-vote signature -> block on
  16-bit chunks -> Hamming verify)
- word n-gram Jaccard pairwise similarity (SQL-expressible oracle path)
- embedding-cosine near-dup (see similarity.py for the ANN machinery)

Scale design notes:
- Signatures (minhash / simhash) are computed with *array expressions*
  (``transform`` / ``aggregate`` / ``array_min``) over an array-typed
  shingle column — pure JVM codegen, NO explode of k hash functions and
  NO Python in the hot path.  Cost is O(k x shingles) arithmetic per
  row, map-only.
- The only shuffles are the LSH bucket join (keyed on (band, hash) —
  tiny rows) and the final verify join.  Candidate pairs, not the
  corpus, hit the pairwise stage: that is what makes near-dedup
  tractable at 10^10 documents where the naive O(n^2) join is not.
- Banding math: b bands x r rows, threshold ~ (1/b)^(1/r).  Defaults
  (b=16, r=8, k=128) target ~0.71 Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .tokenize import space_tokens, whitespace_tokens, word_ngrams
from .util import spread
from ..plans.capture import checkpoint as _ckpt

__all__ = [
    "exact_dedup",
    "shingle",
    "lsh_candidate_pairs",
    "minhash_pairs",
    "minhash_dedup",
    "with_simhash",
    "with_minhash_portable",
    "simhash_candidate_pairs",
    "minhash_audit",
    "simhash_audit",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "containment_count_pairs",
    "containment_prefix_pairs",
    "jaccard_prefix_pairs",
    "duplicated_ngram_spans",
]


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact content dedup keeping the row with the smallest id per
    distinct content value — deterministic, unlike bare
    ``dropDuplicates`` whose survivor is partition-order dependent.

    One shuffle on the content hash; the window's rank filter is pushed
    into the sort (WindowGroupLimit), so each group materializes one
    row.  Hashing the content first (md5) keeps exchange rows small
    when documents are megabytes.
    """
    fp = F.md5(F.col(content_col).cast("string"))
    w = Window.partitionBy(fp).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------

def shingle(text: Column | str, n: int = 5) -> Column:
    """Distinct shingle array for a text column: n-token word shingles
    over the lowercased :func:`~.tokenize.whitespace_tokens` (robust for
    natural text).  Built entirely from array expressions (split /
    transform / slice / array_distinct) — codegen'd, map-only.
    """
    t = F.col(text) if isinstance(text, str) else text
    toks = whitespace_tokens(F.lower(t))
    # texts shorter than n tokens: fall back to the whole text as
    # one shingle so they can still be compared.
    grams = F.when(F.size(toks) >= n, word_ngrams(toks, n))
    grams = grams.otherwise(F.array(F.lower(t)))
    return F.array_distinct(grams)


#: Universal-hash modulus: smallest prime > 2^32 (same family Spark ML's
#: MinHashLSH uses); coefficients below stay < 2^31 so a*h+b < 2^63 and
#: never overflows ANSI bigint arithmetic.
_MH_PRIME = 4294967311


def _mh_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k universal hash functions."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 31, size=num_hashes)
    b = rng.integers(0, 1 << 31, size=num_hashes)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def _fold32(hashes: Column) -> Column:
    """Fold 64-bit shingle hashes to 32 bits (so a*h+b stays < 2^63)."""
    return F.transform(hashes, lambda h: h.bitwiseAND(F.lit(0xFFFFFFFF)))


def _md5_hash32(tok: Column) -> Column:
    """Engine-portable 32-bit token hash: the first 8 hex chars of the
    md5, as a bigint — DuckDB computes the identical value via
    ``('0x' || substring(md5(w), 1, 8))::BIGINT``.  Slower than
    xxhash64 (string md5 per token) — use only where cross-engine
    verifiability is the point."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def _minhash_from_h32(h32: Column, num_hashes: int = 128) -> Column:
    """MinHash signature over 32-bit-folded shingle hashes.

    Each shingle is hashed ONCE (xxhash64); the k hash functions are
    ``(a_i * h32 + b_i) mod p`` multiply-adds — O(k x m) long
    arithmetic per row instead of O(k x m) *string* hashes.  Pass a
    STAGED column (see ``with_simhash`` for why): each of the k minima
    references the array, and an inline expression would be duplicated
    k times.
    """
    return F.array(*[
        F.array_min(F.transform(h32, lambda h: (h * a + b) % _MH_PRIME))
        for a, b in _mh_coeffs(num_hashes)
    ])


# NOTE: a "hash tokens once, combine per-gram" shingle variant was
# measured and REJECTED: referencing an array-typed expression from
# inside a per-gram lambda makes Catalyst inline (re-evaluate) the whole
# token-hash array for every gram — O(tokens^2) per document, ~7x slower
# than simply building the gram strings.  Keep shingle() + one xxhash64
# per gram; if this ever dominates again, the fix is a pandas_udf that
# hashes token arrays in numpy, not deeper expression nesting.


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str = "signature",
    bands: int = 16,
    rows_per_band: int = 8,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """LSH banding: hash each band of the signature, explode to
    (band_idx, band_hash) keys, self-join on the key.

    The join input is (id, band, hash64) — a few dozen bytes per row
    regardless of document size — so the shuffle stays tiny even when
    the corpus is 100 TB of text.  Pairs are emitted once (a.id < b.id,
    distinct across bands).

    ``max_bucket_size`` (opt-in, mirrors ``inverted_index``'s
    ``max_df``): drop (band, band_hash) buckets holding more than this
    many members BEFORE the self-join.  The self-join is quadratic *per
    bucket*; one pathological bucket of m signatures emits m(m-1)/2
    candidate rows, and on a real crawl a boilerplate family of 10^5
    near-identical docs would otherwise dominate the whole stage.  The
    cap is a RECALL trade: pairs only reachable through a dropped
    bucket are lost (each pair still has ``bands - 1`` other chances to
    collide).  Exact-duplicate families should instead be collapsed
    upstream (``minhash_pairs(collapse_exact=True)``, the default),
    which is lossless — use the cap as a second line of defense against
    heavy *near*-dup families.  The precount is one extra shuffle of
    (band, hash, count) rows — vocabulary-bounded, never corpus-sized.
    """
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size={max_bucket_size}: buckets of <2 members "
            "emit no pairs, so the cap would drop everything"
        )

    def _band_key(b):
        key = F.concat_ws(",", F.transform(
            F.slice(F.col(signature_col), b * rows_per_band + 1, rows_per_band),
            lambda x: x.cast("string"),
        ))
        # portable=True keeps the raw slice string as the bucket key: an
        # ANSI-SQL engine reproduces it exactly (string_agg over the
        # same signature components), where xxhash64 cannot be replayed.
        # The hashed key is a pure size optimization — banding on the
        # string proposes the IDENTICAL candidate set (hashing can only
        # ADD ~2^-64 spurious collisions, which the exact-Jaccard verify
        # then has to agree on, so the portable form also removes that
        # last source of cross-engine drift).
        return key if portable else F.xxhash64(key, F.lit(b))

    band_hashes = F.array(*[_band_key(b) for b in range(bands)])
    buckets = (
        df.select(F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash"))
    )
    if max_bucket_size is not None:
        light = (
            buckets.groupBy("band", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "band_hash")
        )
        buckets = buckets.join(light, ["band", "band_hash"], "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _exact_families(docs: DataFrame, id_col: str, text_col: str):
    """The exact-duplicate family collapse of :func:`minhash_pairs`:
    ``(reps, star)`` — ``reps`` is one ``id_col`` row per distinct text
    (the family's min id), ``star`` the ``(id_a=rep, id_b=member)`` pair
    of every other member.

    md5 (128-bit), not xxhash64: a fingerprint collision would silently
    merge two different texts, and at 10^10 docs the 64-bit birthday
    bound is no longer negligible.  ``docs`` must hold no NULL text
    (md5(NULL) is NULL and would group every null-text doc into one
    false family).  The fingerprints read the text straight off the
    scan: the groupBy redistributes them anyway, so spreading the text
    column first would only add a shuffle.
    """
    fam = docs.select(
        F.col(id_col), F.md5(F.col(text_col).cast("string")).alias("__fp")
    )
    reps = fam.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    star = (
        fam.join(reps, "__fp")
        .filter(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return reps.select(F.col("__rep").alias(id_col)), star


def _verify_jaccard(
    cand: DataFrame, g: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact set-Jaccard verify of candidate pairs ``(id_a, id_b)`` over
    ``g``'s per-document gram-hash arrays ``(id_col, __h)``: returns
    ``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``.

    |A∪B| = |A|+|B|−|A∩B| for the gram SETS — skipping array_union
    halves the per-pair set arithmetic, measured r13 as the dominant
    cost of the verify stage.  array_intersect already returns the
    DISTINCT intersection, and the per-side set sizes are staged PER
    DOCUMENT (one array_distinct per doc, not per pair), so the identity
    is exact even if two grams of one document collide under the hash;
    the division consumes the identical pair of doubles, and the emitted
    jaccard is bit-identical to the array_union form.
    """
    def side(s):
        return g.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col("__h").alias(f"__h{s}"),
            F.size(F.array_distinct("__h")).alias(f"__s{s}"),
        )

    inter = F.size(F.array_intersect("__ha", "__hb"))
    return (
        cand.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.col("__sa") + F.col("__sb") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 16,
    rows_per_band: int = 8,
    shingle_size: int = 5,
    jaccard_threshold: float = 0.7,
    collapse_exact: bool = True,
    max_bucket_size: int | None = None,
    gram_frame: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """Verified MinHash near-dup pairs (id_a < id_b).

    One pipeline: gram hashes → exact-family collapse → signatures →
    LSH banding → exact Jaccard verify.  LSH banding proposes
    candidates; *exact* shingle-set Jaccard (over the hashed shingles)
    verifies them — so the only approximation is LSH recall, never
    false positives.  The pair set is materialized eagerly (it is
    candidate-sized, tiny next to the corpus) so the cached gram and
    signature storage can be released before returning.

    Documents with NULL text are dropped up front: they pair with
    nothing (and :func:`minhash_dedup` keeps all of them).

    Gram hashes: the :func:`shingle` set of each document, each gram
    hashed ONCE — xxhash64, or with ``portable=True`` the md5-32 family
    of :func:`_md5_hash32` — into a spread, persisted ``(id_col, __h)``
    frame that the signatures and the verify both read.  The text column
    never enters a cache.  The signature derives its k functions by
    multiply-add over the hashes (:func:`_minhash_from_h32`), and the
    verify intersects the hashed sets (:func:`_verify_jaccard`).

    ``portable=True`` is the cross-engine-verifiable form: md5-32 gram
    hashes (which :func:`_fold32` leaves unchanged, so the signature is
    :func:`with_minhash_portable`'s permutation family) and raw
    signature-slice band keys (``lsh_candidate_pairs(portable=True)``),
    so any ANSI-SQL engine replays signatures, candidates and verify
    exactly — the suite hash-verifies the transitive dedup pipeline
    with it.  xxhash64 is ~an order of magnitude cheaper than a string
    md5 per gram, so the production corpus path stays on the default.

    ``collapse_exact`` (default on) removes the one quadratic a crawl
    corpus WILL hit: a family of m byte-identical documents has
    identical signatures, so all ``bands`` buckets collide and the LSH
    self-join emits m(m-1)/2 candidate rows from a single bucket —
    10^8 pairs for a routine 10^4-doc boilerplate family.  The fix
    fingerprints the text (:func:`_exact_families`), runs the signature
    pipeline on ONE representative per fingerprint (the min id), and
    afterwards expands each family as a *star* — (rep, member) for every
    other member.  This is lossless for everything downstream:

    - exact dups are Jaccard 1.0, always >= any threshold, so every
      family member IS a near-dup of its representative;
    - identical text => identical shingle set, so a cross-family pair
      qualifies iff the representative pair qualifies: connected
      components over the star+representative pairs equal components
      over the full member-level pair set, and the "drop any doc with
      a smaller-id near-dup" rule picks the same survivors (the rep is
      the family min, so every non-rep member still sees a smaller-id
      dup, and any smaller-id doc in a matching family implies an even
      smaller rep).

    The returned pair set is therefore a component-spanning REDUCTION
    (member<->member cross-family pairs are represented by their reps),
    linear in family size instead of quadratic.  Pass
    ``collapse_exact=False`` for the full member-level pair list.
    ``max_bucket_size`` additionally caps heavy *near*-dup buckets (a
    recall trade — see :func:`lsh_candidate_pairs`).

    ``gram_frame`` (r14, VERDICT r13 item 1): a pre-built,
    pre-PERSISTED ``(id_col, __h)`` frame of per-document gram-hash
    arrays replacing the internal gram stage; the caller owns its
    persistence and release.  Order and duplicates within ``__h`` are
    immaterial to the OUTPUT: the signature minima, the LSH banding
    derived from them, and the set-arithmetic verify are all order- and
    duplicate-insensitive, so the emitted pair set is identical to the
    internal form whenever the gram SETS match :func:`shingle`'s — as
    they do for :func:`_word_gram_hashes` (the frame
    :func:`minhash_audit` passes).  Its rows for NULL-text documents
    are ignored.
    """
    docs = df.filter(F.col(text_col).isNotNull())
    own_g = gram_frame is None
    if own_g:
        gram_hash = _md5_hash32 if portable else (lambda s: F.xxhash64(s))
        # spread so a single-row-group input can't serialize the
        # O(k x shingles) arithmetic on one task
        g = spread(docs.select(F.col(id_col), F.col(text_col)), key=id_col).select(
            F.col(id_col),
            F.transform(shingle(text_col, n=shingle_size), gram_hash).alias("__h"),
        ).persist()
        keep = None
    else:
        g = gram_frame.select(F.col(id_col), F.col("__h"))
        keep = docs.select(F.col(id_col))  # drops the frame's NULL-text rows
    star = None
    if collapse_exact:
        keep, star = _exact_families(docs, id_col, text_col)
    src = g if keep is None else g.join(keep, id_col, "left_semi")
    sig = (
        src.withColumn("__h32", _fold32(F.col("__h")))
        .withColumn("__sig", _minhash_from_h32(F.col("__h32"), num_hashes))
        .select(F.col(id_col), F.col("__sig"))
        .persist()
    )
    try:
        cand = lsh_candidate_pairs(
            sig, id_col, "__sig", bands, rows_per_band,
            max_bucket_size=max_bucket_size, portable=portable,
        )
        pairs = _verify_jaccard(cand, g, id_col, jaccard_threshold).select(
            "id_a", "id_b"
        )
        if star is not None:
            # Disjoint by construction: star pairs have a non-rep id_b,
            # verified pairs connect two representatives.
            pairs = pairs.unionByName(star)
        return _ckpt(pairs, label="dedup_result")
    finally:
        sig.unpersist()
        if own_g:
            g.unpersist()


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 16,
    rows_per_band: int = 8,
    shingle_size: int = 5,
    jaccard_threshold: float = 0.7,
    transitive: bool = False,
    collapse_exact: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash near-dedup.

    Returns the deduplicated DataFrame.  Default survivor rule: any doc
    with a smaller-id near-dup is dropped — a deterministic single-pass
    under-approximation of clustering (A~B, B~C, A!~C drops both B and
    C).  With ``transitive=True``, duplicate relations are resolved to
    connected components first (see :mod:`.graph`) and exactly one doc
    — the cluster minimum — survives per cluster: the correct semantics
    when near-dup chains are long (boilerplate families, mirrors).

    Both survivor rules are provably unchanged by the default
    ``collapse_exact`` reduction (see :func:`minhash_pairs`).
    """
    pairs = minhash_pairs(
        df, text_col, id_col, num_hashes, bands, rows_per_band,
        shingle_size, jaccard_threshold,
        collapse_exact=collapse_exact, max_bucket_size=max_bucket_size,
    )
    if transitive:
        from .graph import connected_components

        comp = connected_components(pairs)
        doomed = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(doomed, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_from_hashes(hashes: Column, n: Column, bits: int = 64) -> Column:
    """Signature from an ALREADY-STAGED token-hash array column.

    bit i = 1 iff ``2 * count(hashes with bit i set) > n`` (vote sum
    positive; ties -> 0).  The input MUST be a materialized column, not
    an inline expression: Catalyst inlines expression trees into each
    of the 64 per-bit uses, re-hashing every token 64 times (measured
    ~12x slower).  ``with_simhash`` handles the staging.
    """
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        ones = F.size(
            F.filter(hashes, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1)
        )
        bit = F.when(
            ones * 2 > n,
            F.shiftleft(F.lit(1).cast("bigint"), i),
        ).otherwise(F.lit(0).cast("bigint"))
        sig = sig.bitwiseOR(bit)
    return sig


def with_simhash(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash per row: each distinct token votes +1/-1 on every bit of
    its 64-bit hash; signature bit i is 1 iff the vote sum is positive.

    Two-projection plan: project the token-hash array ONCE, then build
    the 64 bit-votes against that column.  Keeping the hash array as a
    real column is what stops Catalyst's expression inlining from
    re-hashing the document per bit.  Map-only, no explode, no Python.

    ``portable=True`` swaps xxhash64 for the md5-derived 32-bit hash
    family (``bits`` then must be <= 32): slower, but any ANSI-SQL
    engine reproduces the signature bit-for-bit — how the suite
    hash-verifies the SimHash ALGORITHM itself against DuckDB
    (production stays on xxhash64).

    """
    if portable and bits > 32:
        raise ValueError(
            f"portable simhash uses a 32-bit hash family; bits={bits} > 32"
        )
    toks = F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))
    hashes = F.transform(
        toks, _md5_hash32 if portable else (lambda tok: F.xxhash64(tok))
    )
    staged = df.withColumn("__sh_hs", hashes).withColumn("__sh_n", F.size("__sh_hs"))
    out = staged.withColumn(
        out_col, _simhash_from_hashes(F.col("__sh_hs"), F.col("__sh_n"), bits)
    )
    return out.drop("__sh_hs", "__sh_n")


def with_minhash_portable(
    df: DataFrame,
    text_col: str,
    out_col: str = "minhash",
    num_hashes: int = 16,
) -> DataFrame:
    """Cross-engine-verifiable MinHash signature column: the SAME
    ``(a, b) mod p`` permutation family as :func:`_minhash_from_h32`
    (the signatures of :func:`minhash_pairs`), but over the md5-derived
    32-bit token hashes, so an ANSI-SQL engine reproduces every
    signature component exactly.  For verifying the
    MinHash ALGORITHM (the suite hash-checks it against DuckDB) — the
    hot path stays on xxhash64 shingles.
    """
    toks = F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))
    staged = df.withColumn("__mh_h32", F.transform(toks, _md5_hash32))
    out = staged.withColumn(
        out_col, _minhash_from_h32(F.col("__mh_h32"), num_hashes)
    )
    return out.drop("__mh_h32")


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs under Hamming distance.

    Blocking: split the ``bits``-bit signature into ``max_hamming + 1``
    chunks; by pigeonhole any pair within the Hamming budget agrees on
    >= 1 chunk, so joining on (chunk_idx, chunk_value) finds *all*
    qualifying pairs while shuffling only (id, a few small keys) per
    doc.  Verification computes the exact Hamming distance via
    bit_count(xor) and filters *before* the pair-dedup so far pairs
    never enter the distinct's exchange.

    ``bits`` MUST match the signature width (``with_simhash``'s
    ``bits``): chunking a 32-bit signature as 64 would put the all-zero
    upper half in its own chunk, colliding every document into one
    O(n^2) bucket.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 16:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks; >16 chunks of a "
            "64-bit signature over-fragments the blocking — use MinHash instead"
        )
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = F.array(*[
        F.shiftright(F.col(simhash_col), offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_chunks)
    ])
    blocked = df.select(
        F.col(id_col), F.col(simhash_col), F.posexplode(chunks).alias("chunk", "chunk_val")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col(f"a.{simhash_col}").bitwiseXOR(F.col(f"b.{simhash_col}"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Bound audits for the engine-hash pipelines (VERDICT r12 item 4)
# ---------------------------------------------------------------------------

def minhash_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 16,
    rows_per_band: int = 8,
    shingle_size: int = 5,
    jaccard_threshold: float = 0.5,
    pair_recall_floor: float = 0.0,
    component_recall_floor: float = 0.0,
) -> DataFrame:
    """One-row bound audit of the PRODUCTION xxhash64 MinHash+LSH
    pipeline (:func:`minhash_pairs` + the default smaller-id survivor
    rule) against the exact same-threshold census.

    The xxhash64 signatures themselves are engine-specific (no other
    engine reproduces them), so the emitted PAIR LIST can never
    hash-match a SQL oracle.  What CAN: exact values any engine
    recomputes from the raw text, plus boolean verdicts over the
    production output that are provably or measurably TRUE:

    - ``n_docs`` / ``census_pairs`` / ``census_dup_docs`` — the corpus
      size and the EXACT gram-set-Jaccard >= t pair census, computed
      engine-side with the lossless prefix-filter join
      (:func:`jaccard_prefix_pairs`, hash-verified machinery) and
      replayed by the oracle as the O(n^2) restatement;
    - ``emitted_subset_ok`` — every production pair is in the exact
      census (TRUE by construction: LSH only PROPOSES candidates, the
      exact-Jaccard verify gates emission; exact-dup star pairs are
      Jaccard 1.0).  This is the "no false positives" half;
    - ``pair_recall_ok`` / ``component_recall_ok`` — the measured-floor
      "recall" half: the fraction of census pairs production emits
      (resp. merges into one connected component — the level the
      dedup outcome actually lives at, and the one the exact-family
      star reduction provably preserves) is >= the given floors.  The
      floors are set from measurements with margin (see the suite
      registration); determinism of the production pair set for fixed
      data makes the flags flake-proof.

    Gram sets: both sides use production :func:`shingle`'s — word
    n-grams over whitespace-run tokens, and the whole lowercased text
    as the one gram of a doc shorter than ``n`` tokens.  The corpus is
    tokenized and gram-hashed ONCE (:func:`_word_gram_hashes`, one
    persisted frame, r14) and both pair pipelines consume it: the
    census needs the lex order for its prefix filter, and the
    production signature/verify are order- and duplicate-insensitive
    over the same gram SETS.  So production emits exactly what
    standalone :func:`minhash_pairs` emits, and the census is the exact
    Jaccard census over those same sets, on any input whitespace.

    Plan: one shared gram stage, the two pair pipelines
    (candidate-bounded, never O(n^2)), one lazily-checkpointed
    component-label frame joined twice, then THREE 1-row scalar
    subtrees cross-joined (the <=1-row BNLJ product shape plan_audit
    whitelists) — the census/emitted counts, subset violations, recall
    hits and component merges all come out of ONE full-outer-join
    aggregate instead of four separate branch scans (r14).
    """
    from .graph import assign_components

    g = spread(
        df.select(F.col(id_col), F.col(text_col)), key=id_col
    ).select(
        F.col(id_col), _word_gram_hashes(text_col, shingle_size).alias("__h")
    )
    g = g.persist()
    try:
        emitted = minhash_pairs(
            df, text_col, id_col, num_hashes, bands, rows_per_band,
            shingle_size, jaccard_threshold, gram_frame=g,
        )
        # jaccard_prefix_pairs returns an EAGERLY checkpointed frame
        # (label dedup_result) — both pair sets are materialized by the
        # time we leave this block, so the gram storage can be released
        # before the audit's own action runs.
        census = jaccard_prefix_pairs(
            df, id_col, text_col, n=shingle_size,
            threshold=jaccard_threshold, gram_frame=g,
        ).select("id_a", "id_b")
    finally:
        g.unpersist()

    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    census_docs = census.select(
        F.explode(F.array("id_a", "id_b")).alias("d")
    ).agg(F.count_distinct("d").alias("census_dup_docs"))
    # Components of the production pair graph, lazily checkpointed: the
    # flags aggregate joins the labels TWICE (id_a, id_b side), and
    # without the checkpoint each reference would re-run the spine join.
    comp = _ckpt(
        assign_components(
            df.select(F.col(id_col)), id_col, emitted.select("id_a", "id_b")
        ),
        eager=False,
        label="minhash_audit_components",
    )
    # ONE pass for census count / subset violations / recall hits /
    # component merges (r14): both pair sets are distinct by
    # construction (candidate .distinct() upstream; star pairs disjoint
    # from verified rep pairs), so a full-outer join with presence
    # markers preserves exact counts — no row multiplication.
    both = census.withColumn("__c", F.lit(True)).join(
        emitted.withColumn("__e", F.lit(True)), ["id_a", "id_b"], "full_outer"
    )
    flags = (
        both.join(
            comp.select(F.col(id_col).alias("id_a"), F.col("component").alias("__ca")),
            "id_a",
        )
        .join(
            comp.select(F.col(id_col).alias("id_b"), F.col("component").alias("__cb")),
            "id_b",
        )
        .agg(
            F.count("__c").alias("census_pairs"),
            F.count(F.when(F.col("__e") & F.col("__c").isNull(), 1)).alias("__viol"),
            F.count(F.when(F.col("__c") & F.col("__e"), 1)).alias("__pair_hits"),
            F.count(
                F.when(F.col("__c") & (F.col("__ca") == F.col("__cb")), 1)
            ).alias("__merged"),
        )
    )
    return (
        n_docs.crossJoin(flags).crossJoin(census_docs)
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("census_pairs").cast("bigint").alias("census_pairs"),
            F.col("census_dup_docs").cast("bigint").alias("census_dup_docs"),
            (F.col("__viol") == 0).alias("emitted_subset_ok"),
            (
                F.col("__pair_hits")
                >= F.lit(pair_recall_floor) * F.col("census_pairs")
            ).alias("pair_recall_ok"),
            (
                F.col("__merged")
                >= F.lit(component_recall_floor) * F.col("census_pairs")
            ).alias("component_recall_ok"),
        )
    )


def simhash_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    portable_bits: int = 32,
    portable_max_hamming: int = 0,
    min_jaccard_floor: float = 0.0,
) -> DataFrame:
    """One-row bound audit of the PRODUCTION 64-bit xxhash64 SimHash
    pipeline (:func:`with_simhash` + :func:`simhash_candidate_pairs`).

    SimHash has no sharp Jaccard-threshold semantics, so the audit
    anchors on what IS exact:

    - ``tokset_dup_pairs`` — pairs with IDENTICAL distinct-token sets
      (oracle: O(n^2) sorted-list equality).  Identical token sets
      give identical bit votes, hence Hamming 0, hence pigeonhole
      guarantees emission: ``tokset_dups_found_ok`` is TRUE by
      construction, a hard completeness guarantee;
    - ``portable_pairs`` — the pair count of the PORTABLE md5-32
      twin signature (:func:`with_simhash` ``portable=True``, the
      machinery dedup_simhash_portable already hash-verifies
      bit-for-bit) under ``portable_max_hamming``; the oracle replays
      the signatures and the O(n^2) ``bit_count(xor)`` join exactly,
      so this VALUE is cross-engine exact — the portable twin's pair
      census;
    - ``min_jaccard_ok`` — every production pair's exact distinct-
      token-set Jaccard (recomputed from raw text, the quantity any
      engine can replay per pair) >= the measured floor: the
      precision proxy.  Vacuously TRUE when production emits no pairs
      (coalesced — min over an empty set is NULL, and the oracle
      hard-codes TRUE).

    A production-vs-portable pair RECALL verdict was measured and
    REJECTED: the two hash families' pair sets overlap only 16-52%
    across SFs (hamming budgets don't map between 64- and 32-bit
    signatures), so any floor would either flake or assert nothing.
    The recall guarantee the audit does carry is exact and hard:
    recall is 1.0 on the Hamming-0 (identical token set) subset.

    ``min_jaccard_floor`` comes from measurement with margin (suite
    registration); production and portable pair sets are
    deterministic for fixed data, so the flags cannot flake.
    """
    # NOTE (r14, measured and REJECTED per guide §1): two shared-token
    # staging variants for the audit's five tokenize sites were tried —
    # (a) a lazily-CHECKPOINTED sorted-token frame (warm 3.40 → 3.71 s:
    # materializing the token arrays costs more than the saved
    # re-splits at this corpus shape) and (b) a shared unmaterialized
    # EXPRESSION (timing parity, but it dragged the signature paths'
    # spread() repartition into the tokdups/census pipeline — one extra
    # corpus-text exchange at scale for zero measured win).  The branch
    # fusion below is the piece that survived measurement.
    base = spread(df.select(F.col(id_col), F.col(text_col)), key=id_col)
    sigs = with_simhash(base, text_col).select(id_col, "simhash")
    emitted = simhash_candidate_pairs(
        sigs, id_col, "simhash", max_hamming=max_hamming
    ).select("id_a", "id_b")
    emitted = _ckpt(emitted, eager=False, label="simhash_audit_emitted")

    psigs = with_simhash(
        base, text_col, out_col="__psig", bits=portable_bits, portable=True
    ).select(id_col, "__psig")
    portable = simhash_candidate_pairs(
        psigs, id_col, "__psig",
        max_hamming=portable_max_hamming, bits=portable_bits,
    ).select("id_a", "id_b")
    portable = _ckpt(portable, eager=False, label="simhash_audit_portable")

    toksets = df.select(
        F.col(id_col),
        F.array_sort(
            F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))
        ).alias("__ts"),
    )
    # identical-token-set census: family-bucket self-join on the md5 of
    # the sorted token list (equi-join, family-bounded — at crawl scale
    # the same census would be taken star-wise per family, the
    # minhash_pairs collapse argument)
    fams = toksets.select(
        F.col(id_col), F.md5(F.to_json("__ts")).alias("__tk")
    )
    a, b = fams.alias("a"), fams.alias("b")
    tokdups = (
        a.join(
            b,
            (F.col("a.__tk") == F.col("b.__tk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    tokdups = _ckpt(tokdups, eager=False, label="simhash_audit_tokdups")

    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    n_portable = portable.agg(F.count(F.lit(1)).alias("portable_pairs"))
    # census count + completeness miss in ONE aggregate (r14): both
    # pair sets are distinct by construction (the candidate pipeline
    # ends in .distinct(); the census join keys on a.id < b.id over
    # unique ids), so a presence-marker left join preserves counts —
    # this replaces a separate count branch plus a left-anti branch.
    tok_flags = (
        tokdups.join(
            emitted.withColumn("__e", F.lit(True)), ["id_a", "id_b"], "left"
        )
        .agg(
            F.count(F.lit(1)).alias("tokset_dup_pairs"),
            F.count(F.when(F.col("__e").isNull(), 1)).alias("__td_miss"),
        )
    )
    # union-skip Jaccard (r13): __ts is already a distinct token set, so
    # |A∪B| = size(A)+size(B)−|A∩B| with O(1) size() calls — identical
    # doubles, no array_union materialization per pair.
    _tj_inter = F.size(F.array_intersect("__ta", "__tb"))
    min_j = (
        emitted.join(
            toksets.select(F.col(id_col).alias("id_a"), F.col("__ts").alias("__ta")),
            "id_a",
        )
        .join(
            toksets.select(F.col(id_col).alias("id_b"), F.col("__ts").alias("__tb")),
            "id_b",
        )
        .select(
            (
                _tj_inter
                / (F.size("__ta") + F.size("__tb") - _tj_inter)
            ).alias("__j")
        )
        .agg(F.min("__j").alias("__min_j"))
    )
    return (
        n_docs.crossJoin(tok_flags).crossJoin(n_portable).crossJoin(min_j)
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("tokset_dup_pairs").cast("bigint").alias("tokset_dup_pairs"),
            F.col("portable_pairs").cast("bigint").alias("portable_pairs"),
            (F.col("__td_miss") == 0).alias("tokset_dups_found_ok"),
            # vacuous truth on an empty emitted set: min() over zero
            # rows is NULL, and NULL >= floor would propagate NULL
            # where the oracle hard-codes TRUE
            F.coalesce(
                F.col("__min_j") >= F.lit(min_jaccard_floor), F.lit(True)
            ).alias("min_jaccard_ok"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (SQL-expressible; oracle-checkable)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """Pairwise word-n-gram Jaccard similarity within a blocking key.

    The blocking column (language, length bucket, LSH bucket, ...)
    bounds the pair explosion; at scale, feed this an LSH bucket id so
    the quadratic term is per-bucket.  Kept fully SQL-expressible
    (split / distinct / intersect / union sizes) so a DuckDB oracle can
    verify it bit-for-bit.
    """
    g = df.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        _space_grams(text_col, n).alias("__grams"),
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                F.size(F.array_intersect("a.__grams", "b.__grams")).cast("double")
                / F.size(F.array_union("a.__grams", "b.__grams")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Pairwise ASYMMETRIC n-gram containment within a blocking key:
    ``containment(a in b) = |grams(a) ∩ grams(b)| / |grams(a)|``.

    The near-SUBSET detector Jaccard misses: a short document wholly
    quoted inside a long one has tiny Jaccard (union is dominated by
    the long side) but containment ~1.0 — the quote/excerpt/
    concatenation pathology of crawl corpora.  Emits one row per
    ordered pair (id_a < id_b) with BOTH directions' scores, keeping
    pairs where either direction reaches ``threshold``.

    Same scale posture as :func:`ngram_jaccard_pairs`: the blocking
    column bounds the quadratic term (feed an LSH bucket id at scale);
    fully SQL-expressible so a DuckDB oracle verifies it exactly.
    """
    g = df.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        _space_grams(text_col, n).alias("__grams"),
    )
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect("a.__grams", "b.__grams")).cast("double")
    c_ab = inter / F.size("a.__grams").cast("double")
    c_ba = inter / F.size("b.__grams").cast("double")
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact asymmetric-containment pairs at scale via the ASYMMETRIC
    prefix filter — the production replacement for blocking
    :func:`containment_pairs` on a coarse attribute.

    Theorem: ``containment(x in y) = |X∩Y|/|X| >= t`` requires
    ``|X∩Y| >= ceil(t·|X|)``; with X's grams in a global total order,
    if none of X's first ``|X| - ceil(t·|X|) + 1`` grams is in Y the
    overlap is at most ``ceil(t·|X|) - 1`` — so every qualifying pair
    is found by joining the QUERY side's prefix against the PROBE
    side's FULL gram list (the probe side cannot be prefixed: Y's
    size doesn't bound the containment of X).  Both directions are
    generated (x-prefix vs y-full and y-prefix vs x-full), normalized
    to id_a < id_b, and exact containment verifies candidates — output
    identical to the blocked form, lossless.  All threshold ceilings
    carry a downward 1e-9 epsilon so double rounding can never
    overshoot an exact integer t·|X| and silently shrink a prefix /
    tighten a length filter; a too-small ceiling only admits extra
    candidates that exact verification removes.

    Scale shape: the full-side explode is one row per gram OCCURRENCE
    (corpus-linear, (hash, id) longs), the prefix side is sub-linear
    (shrinking as t grows), and the candidate join is bounded by
    per-gram document frequency — never block². Hot grams are the
    caveat (same as PPJoin); on zipfian text the prefix holds rare
    grams with tiny df.  The global order is the gram hash value
    itself (array_sort over xxhash64), so no string re-sort pass.
    """
    g = spread(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col),
        F.array_sort(
            F.transform(_space_grams(text_col, n), lambda s: F.xxhash64(s))
        ).alias("__h"),
    )
    g = g.persist()
    try:
        prefix_len = (
            F.size("__h") - F.ceil(F.lit(threshold) * F.size("__h") - F.lit(1e-9)) + 1
        ).cast("int")
        probe = g.select(
            F.col(id_col).alias("qid"),
            F.size("__h").alias("__qsz"),
            F.explode(F.slice(F.col("__h"), 1, prefix_len)).alias("__gram"),
        )
        full = g.select(
            F.col(id_col).alias("fid"),
            F.size("__h").alias("__fsz"),
            F.explode("__h").alias("__gram"),
        )
        # per-direction length filter (lossless): containment(q in f)
        # >= t forces |F| >= ceil(t·|Q|) since the overlap can't exceed
        # |F|.  A pair qualifying only in the other direction is still
        # generated by the other direction's probe rows.
        cand = (
            probe.join(
                full,
                (probe["__gram"] == full["__gram"])
                & (F.col("qid") != F.col("fid"))
                & (
                    F.col("__fsz")
                    >= F.ceil(F.lit(threshold) * F.col("__qsz") - F.lit(1e-9))
                ),
            )
            .select(
                F.least("qid", "fid").alias("id_a"),
                F.greatest("qid", "fid").alias("id_b"),
            )
            .distinct()
        )
        inter = F.size(F.array_intersect("__ha", "__hb")).cast("double")
        pairs = (
            cand.join(
                g.select(F.col(id_col).alias("id_a"), F.col("__h").alias("__ha")),
                "id_a",
            )
            .join(
                g.select(F.col(id_col).alias("id_b"), F.col("__h").alias("__hb")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                (inter / F.size("__ha").cast("double")).alias(
                    "containment_a_in_b"
                ),
                (inter / F.size("__hb").cast("double")).alias(
                    "containment_b_in_a"
                ),
            )
            .filter(
                (F.col("containment_a_in_b") >= threshold)
                | (F.col("containment_b_in_a") >= threshold)
            )
        )
        return _ckpt(pairs, label="dedup_result")
    finally:
        g.unpersist()


def containment_count_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact asymmetric-containment pairs via the inverted-index COUNT
    join — output identical to :func:`containment_prefix_pairs`
    (same (id_a, id_b, containment_a_in_b, containment_b_in_a) rows),
    different plan: ``|A∩B|`` is the NUMBER OF MATCHING ROWS of the
    gram-occurrence self-equi-join, aggregated per pair, so no gram
    array ever travels through a join and there is no candidate/verify
    asymmetry at all.

    Why it exists (r13 optimization, measured at sf0.1): containment's
    t=0.6 prefix keeps ~40% of each gram list, and on the fixture
    corpus the prefix filter left 7.86M of 12.5M possible pairs as
    candidates — the per-candidate ``array_intersect`` verify (arrays
    re-joined to 7.9M pairs) was ~70% of the operator wall.  Counting
    join rows replaces all of that with one narrow aggregation:
    5.2 s → ~2.2 s end to end.

    Scale trade, stated honestly: enumerated rows are Σ_g df(g)²
    (36.5M here) versus the prefix form's Σ_g df_pref(g)·df_full(g)
    (24.9M) — but the count form's shuffle rows are four longs + a
    count (map-side combinable), while the prefix form re-shuffles the
    full gram ARRAYS through its two verify joins.  On zipfian corpora
    with a pruning prefix (high t, rare-gram prefixes) prefer
    :func:`containment_prefix_pairs`.

    ``max_df`` (r14, VERDICT r13 item 3 / ADVICE r13): the hot-gram cap
    the r13 docstring only warned about.  Grams held by more than
    ``max_df`` documents are dropped from the occurrence join on BOTH
    sides (one combinable pre-count over the exploded occurrences, then
    a broadcast anti-join of the tiny ABOVE-cap set — the exact
    ``inverted_index`` pattern), bounding the enumerated join rows at
    Σ_g min(df(g), max_df)² — a single boilerplate gram at crawl scale
    otherwise contributes df² rows on one reducer key.  APPROXIMATION
    trade, stated plainly: a dropped gram no longer counts toward
    |A∩B|, so containment scores can only shrink and pairs held
    together solely by boilerplate grams are not emitted (usually the
    desired reading — stop-grams carry no near-dup signal; the set
    sizes |A|/|B| deliberately keep capped grams so the denominator
    stays exact).  Default ``None`` = exact (the registered queries'
    form; the fixture corpus has no hot gram).

    Exactness: grams are distinct strings per doc; occurrences are
    exploded from ``array_distinct`` of the xxhash64 grams and set
    sizes use the deduped arrays, so a within-doc hash collision
    cannot inflate a count (same guarantee as the r13 union-skip
    verify in :func:`jaccard_prefix_pairs`).
    """
    g = spread(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col),
        F.array_distinct(
            F.transform(_space_grams(text_col, n), lambda s: F.xxhash64(s))
        ).alias("__h"),
    )
    g = g.persist()
    try:
        fa = g.select(
            F.col(id_col).alias("id_a"),
            F.size("__h").alias("__sa"),
            F.explode("__h").alias("__gram"),
        )
        fb = g.select(
            F.col(id_col).alias("id_b"),
            F.size("__h").alias("__sb"),
            F.explode("__h").alias("__gram"),
        )
        if max_df is not None:
            # hot-gram cap (see docstring): __h is per-doc DISTINCT, so
            # the occurrence count per gram IS its document frequency —
            # one combinable pre-count, then broadcast the tiny
            # above-cap set into anti-joins on both explode sides.
            hot = (
                fa.groupBy("__gram")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_df)
                .select("__gram")
            )
            fa = fa.join(F.broadcast(hot), "__gram", "left_anti")
            fb = fb.join(F.broadcast(hot), "__gram", "left_anti")
        inter = (
            fa.join(
                fb,
                (fa["__gram"] == fb["__gram"])
                & (F.col("id_a") < F.col("id_b")),
            )
            .groupBy("id_a", "id_b", "__sa", "__sb")
            .agg(F.count(F.lit(1)).alias("__i"))
        )
        pairs = inter.select(
            "id_a",
            "id_b",
            (F.col("__i").cast("double") / F.col("__sa").cast("double")).alias(
                "containment_a_in_b"
            ),
            (F.col("__i").cast("double") / F.col("__sb").cast("double")).alias(
                "containment_b_in_a"
            ),
        ).filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        return _ckpt(pairs, label="dedup_result")
    finally:
        g.unpersist()


def _space_grams(text_col: str, n: int) -> Column:
    """DISTINCT word-``n``-grams of the lowercased
    :func:`~.tokenize.space_tokens` — the gram set of the SQL-replayed
    pair operators (their oracles read it as ``suite.dedup._SQL_DOC_2GRAMS``).
    A doc shorter than ``n`` tokens is one gram, its tokens joined."""
    return F.array_distinct(
        word_ngrams(space_tokens(F.lower(F.col(text_col))), n)
    )


def _lex_hashes(grams: Column) -> Column:
    """xxhash64 of each gram, in gram-STRING lex order (sorted before
    hashing): a corpus-global total order, as the prefix-filter theorem
    of :func:`jaccard_prefix_pairs` requires."""
    return F.transform(F.array_sort(grams), lambda s: F.xxhash64(s))


def _word_gram_hashes(text_col: str, n: int) -> Column:
    """Lex-ordered hashes of :func:`shingle`'s distinct word-``n``-gram
    set — the gram frame :func:`minhash_audit` builds ONCE (r14) and
    feeds to both the census prefix-join and the production signature
    pipeline, so both see exactly the grams standalone
    :func:`minhash_pairs` shingles: whitespace-run tokens, and the whole
    lowercased text as the one gram of a doc shorter than ``n`` tokens.
    """
    return _lex_hashes(shingle(text_col, n))


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    order: str = "lex",
    gram_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at scale via *prefix filtering* — the
    production replacement for blocking ``ngram_jaccard_pairs`` on a
    coarse attribute like language.

    Theorem (PPJoin-style): sort each document's distinct gram set by a
    global total order; if Jaccard(a, b) >= t then |a ∩ b| >= t·|a|, so
    a and b must share at least one gram within the first
    |a| - ceil(t·|a|) + 1 grams of each side.  Candidate generation
    therefore explodes only that *prefix* (shrinking as t grows), joins
    on the gram, and exact Jaccard verifies the candidates.  Unlike
    attribute blocking this is lossless — every qualifying pair is
    found — and the quadratic term is per-gram-bucket, bounded by token
    frequency, not per-language.

    Two further lossless PPJoin filters run inside the candidate join
    (Xiao et al., WWW'08), pruning pairs before the distinct's shuffle
    and the array-carrying verify joins:

    - **length filter**: Jaccard >= t forces t·|a| <= |b| <= |a|/t;
    - **positional filter**: a match at (0-based) prefix positions
      (i, j) bounds the overlap by ``min(i,j) + 1 + min(|a|-i-1,
      |b|-j-1)``, which must reach ``ceil(t/(1+t)·(|a|+|b|))``.

    Both are plain arithmetic on (size, position) carried with each
    exploded prefix row — no extra shuffle.  Measured sf0.1 (5k docs,
    t=0.8): distinct candidates 4.74M → 1.46M (3.2×).

    ``order`` picks the global total order defining the prefix:

    - ``"lex"`` — lexicographic gram strings; zero extra passes.
    - ``"freq"`` — document-frequency ascending (rarest gram first,
      hash tiebreak): the classic PPJoin ordering.  Costs one corpus
      gram-frequency aggregation and a per-doc re-sort (all linear,
      map-side-combinable).  On zipfian real-text corpora this shrinks
      candidate buckets to the rare tail; on THIS synthetic corpus the
      gram distribution is near-uniform, so measured sf0.1 pruning was
      marginal (4.74M → 4.45M) — the length+positional filters carry
      the load instead.  Both orders are lossless — identical output
      pairs — so the exact oracle verifies either; prefer ``"freq"``
      on natural-language corpora at scale.

    Threshold ceilings carry a downward 1e-9 epsilon (see
    ``containment_prefix_pairs``): double rounding must never overshoot
    an exact integer t·|X|, or the prefix/length/positional filters
    tighten by one and the lossless guarantee breaks.

    Grams are :func:`_space_grams` (single-space tokens, as the SQL
    oracles replay them).  ``gram_frame`` (r14, VERDICT r13 item 1): a
    pre-built, pre-PERSISTED ``(id_col, __h)`` frame of per-document
    distinct gram-hash arrays replacing that stage — lets a caller that
    needs the grams for something else too (:func:`minhash_audit`,
    which passes :func:`_word_gram_hashes`) build them once.  The
    caller owns persistence and release; the arrays must be in ONE
    corpus-global total order (the internal form's gram-string lex
    order) or the prefix theorem's losslessness breaks.
    """
    if order not in ("lex", "freq"):
        raise ValueError(f"order must be 'lex' or 'freq', got {order!r}")
    # Strings exist only to define the (lexicographic) prefix order;
    # everything that moves through a shuffle or an intersect is the
    # grams' xxhash64 — long compares beat string compares and the
    # shuffle rows stay small however long the grams are.  Set sizes
    # (and so Jaccard) are hash-collision-exact up to 2^-64 per gram
    # pair, far below any realistic corpus' error budget.
    # The gram-hash projection is referenced three times (prefix explode
    # twice via the self-join, verify twice) — without staging, the
    # whole corpus would be re-shingled per reference.  Persist it once
    # (spread, so a single-row-group input can't serialize the gram
    # computation on one task), materialize the small verified-pairs
    # result eagerly, then release executor storage.
    own_g = gram_frame is None
    if own_g:
        g = spread(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
            F.col(id_col),
            _lex_hashes(_space_grams(text_col, n)).alias("__h"),
        )
        g = g.persist()
    else:
        g = gram_frame.select(F.col(id_col), F.col("__h"))
    p = None
    try:
        prefix_len = (
            F.size("__h") - F.ceil(F.lit(threshold) * F.size("__h") - F.lit(1e-9)) + 1
        ).cast("int")
        if order == "freq":
            # Re-sort each doc's gram hashes by corpus document
            # frequency ascending (hash tiebreak = total order), so the
            # prefix holds the RAREST grams: candidate buckets are then
            # bounded by the rare tail, not the zipf head.  One linear
            # explode + partial-agg count + equi-join + per-doc
            # collect_list; nothing quadratic.
            ex = g.select(F.col(id_col), F.explode("__h").alias("__gm"))
            freq = ex.groupBy("__gm").agg(F.count("*").alias("__df"))
            byfreq = (
                ex.join(freq, "__gm")
                .groupBy(id_col)
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("__df", "__gm"))
                    ).alias("__s")
                )
                .select(
                    F.col(id_col),
                    F.transform("__s", lambda s: s["__gm"]).alias("__hord"),
                )
            )
            prefix_ord = (
                F.size("__hord") - F.ceil(F.lit(threshold) * F.size("__hord") - F.lit(1e-9)) + 1
            ).cast("int")
            p = byfreq.select(
                F.col(id_col),
                F.size("__hord").alias("__sz"),
                F.posexplode(F.slice(F.col("__hord"), 1, prefix_ord)).alias(
                    "__pos", "__gram"
                ),
            ).persist()
        else:
            p = g.select(
                F.col(id_col),
                F.size("__h").alias("__sz"),
                F.posexplode(F.slice(F.col("__h"), 1, prefix_len)).alias(
                    "__pos", "__gram"
                ),
            )
        a, b = p.alias("a"), p.alias("b")
        # lossless pre-verify pruning: length + positional filters
        # (see docstring) — arithmetic-only join predicates, evaluated
        # on matched rows before anything reaches the distinct.
        t = F.lit(threshold)
        need = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("a.__sz") + F.col("b.__sz")) - F.lit(1e-9))
        overlap_ub = (
            F.least(F.col("a.__pos"), F.col("b.__pos"))
            + 1
            + F.least(
                F.col("a.__sz") - F.col("a.__pos") - 1,
                F.col("b.__sz") - F.col("b.__pos") - 1,
            )
        )
        cand = (
            a.join(
                b,
                (F.col("a.__gram") == F.col("b.__gram"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                & (F.col("b.__sz").cast("double") >= t * F.col("a.__sz"))
                & (F.col("a.__sz").cast("double") >= t * F.col("b.__sz"))
                & (overlap_ub >= need),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        return _ckpt(
            _verify_jaccard(cand, g, id_col, threshold), label="dedup_result"
        )
    finally:
        if own_g:
            g.unpersist()
        if order == "freq" and p is not None:
            p.unpersist()


def _staged_gram_frames(df, id_col: str, text_col: str, n: int,
                        keep_text: bool = True):
    """Shared shingle staging for the two ExactSubstr halves
    (:func:`duplicated_ngram_spans` profiles,
    :func:`remove_duplicated_spans` transforms) — one implementation so
    gram identity can never silently diverge between them (r10 review
    finding: the pipeline had been duplicated verbatim).

    Returns ``(g, dup)``: ``g`` is a PERSISTED (id[, text], __ghs)
    frame where ``__ghs`` is the rolling case-folded word-``n``-gram
    xxhash64 array — EMPTY (not null) for NULL text, so null docs
    neither fabricate a whole-doc gram of the empty string nor
    cross-contaminate genuinely empty-string documents (two NULL docs
    used to hash to xxhash64('') and mark every ''-text doc a cross-doc
    duplicate); ``dup`` is the duplicated-gram set (grams held by >1
    DISTINCT doc — corpus-vocabulary-bounded shuffle).  The caller owns
    ``g``'s unpersist.

    ``keep_text=False`` drops the text column from the persisted frame:
    the PROFILE half never reads text after shingling, and caching the
    full corpus text alongside the gram arrays would double the
    cache/spill footprint at the corpus scale this targets (ADVICE
    r10).  The TRANSFORM half re-tokenizes from text, so it keeps it.
    """
    ghs = F.transform(
        word_ngrams(space_tokens(F.lower(F.col(text_col))), n),
        lambda s: F.xxhash64(s),
    )
    safe = F.when(F.col(text_col).isNotNull(), ghs).otherwise(
        F.expr("CAST(array() AS ARRAY<BIGINT>)")
    )
    cols = (
        [F.col(id_col), F.col(text_col), safe.alias("__ghs")]
        if keep_text
        else [F.col(id_col), safe.alias("__ghs")]
    )
    g = spread(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(*cols).persist()
    dup = (
        g.select(F.col(id_col), F.explode("__ghs").alias("__gh"))
        .groupBy("__gh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") > 1)
        .select("__gh")
    )
    return g, dup


def duplicated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document cross-document repetition profile: how many of a
    doc's rolling word-``n``-grams also occur in ANOTHER document —
    ``(id, n_grams, n_dup_grams, dup_fraction)``.

    The exact-substring-duplication signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"):
    boilerplate, licenses, templated spans and wholesale copies show up
    as high ``dup_fraction`` even when whole-document near-dup (MinHash
    etc.) misses them.  Within-document repetition is deliberately NOT
    counted (that's :func:`~..text.repetition_metrics`); a gram flags
    only when its distinct-document count exceeds one.

    Plan shape: one staged shingle pass (gram hashes computed once,
    persisted), one count-distinct shuffle keyed by gram hash (partial
    aggregation bounds the exchange by corpus vocabulary), one semi-ish
    join of gram occurrences against the duplicated-gram set, one
    per-doc count.  Everything that moves is (hash, id) longs — at 100
    TB the shuffle is corpus-vocabulary-sized, never corpus-squared.

    NULL-text docs carry zero grams (``n_grams = 0``, ``dup_fraction =
    0.0``) and never join the duplicated-gram set — see
    :func:`_staged_gram_frames`.
    """
    g, dup = _staged_gram_frames(df, id_col, text_col, n, keep_text=False)
    try:
        ex = g.select(F.col(id_col), F.explode("__ghs").alias("__gh"))
        per_doc = (
            ex.join(dup, "__gh")
            .groupBy(id_col)
            .agg(F.count("*").alias("__ndup"))
        )
        out = (
            g.select(F.col(id_col), F.size("__ghs").cast("bigint").alias("n_grams"))
            .join(per_doc, id_col, "left")
            .select(
                F.col(id_col),
                F.col("n_grams"),
                F.coalesce(F.col("__ndup"), F.lit(0)).cast("bigint").alias(
                    "n_dup_grams"
                ),
                F.when(
                    F.col("n_grams") > 0,
                    F.round(
                        F.coalesce(F.col("__ndup"), F.lit(0)).cast("double")
                        / F.col("n_grams").cast("double"),
                        6,
                    ),
                ).otherwise(F.lit(0.0)).alias("dup_fraction"),
            )
        )
        return _ckpt(out, label="dedup_result")
    finally:
        g.unpersist()


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Cut cross-document duplicated word-``n``-gram runs OUT of each
    document — the transform half of Lee et al. 2022's ExactSubstr
    deduplication (:func:`duplicated_ngram_spans` is the matching
    profile half): ``(id, n_tokens, n_spans_removed, n_tokens_removed,
    cleaned_text)``.

    A token position is covered when any rolling ``n``-gram containing
    it also occurs in ANOTHER document (distinct-doc count > 1 — purely
    within-doc repetition never cuts); covered positions from
    overlapping/adjacent gram hits merge into maximal spans, the spans
    are removed, and the remaining tokens re-join with single spaces.
    A wholesale copy (every gram shared) removes the entire document
    (``cleaned_text = ''``); documents shorter than ``n`` tokens
    compare as one whole-doc gram, so short exact dupes are removed
    whole.  Gram identity is case-folded; the emitted tokens keep
    their original case (``lower`` never changes token boundaries).

    Plan shape, corpus-safe by construction: one staged shingle pass
    (gram hashes computed once, persisted), ONE vocabulary-bounded
    count-distinct shuffle for the duplicated-gram set, one join of
    gram occurrences against that set, one per-doc shuffle collecting
    the (sorted, doc-bounded) hit positions, then the span merge and
    token filtering run as MAP-ONLY array expressions (a linear fold
    over sorted hits builds the spans; the token filter is
    tokens x spans per doc) — nothing quadratic in the corpus, no
    Python, no collect.

    NULL-text docs pass through untouched as ``(id, n_tokens=0,
    n_spans_removed=0, n_tokens_removed=0, cleaned_text=NULL)`` — they
    carry zero grams, so they neither fabricate removals nor mark
    empty-string docs as duplicates (r10 review finding; see
    :func:`_staged_gram_frames`).
    """
    g, dup = _staged_gram_frames(df, id_col, text_col, n)
    try:
        ex = g.select(
            F.col(id_col), F.posexplode("__ghs").alias("__p0", "__gh")
        )
        hits = (
            ex.join(dup, "__gh")
            .groupBy(id_col)
            .agg(
                F.sort_array(F.collect_list(F.col("__p0") + 1)).alias("__hits")
            )
        )
        # Stage the token array and its length as COLUMNS before the
        # higher-order functions reference them (repo convention for
        # HOF-reused arrays — see the minhash O(tokens^2) NOTE above).
        # Measured honestly: at sf0.1 the staged and inline forms time
        # identically (~1.8-2.2 s warm) because whole-stage codegen's
        # subexpression elimination already de-duplicates the
        # deterministic size(split(text)) here; the staging keeps the
        # cost structure explicit rather than CSE-dependent.
        j = (
            g.join(hits, id_col, "left")
            .withColumn("__otoks", space_tokens(text_col))
            .withColumn("__ntok", F.size("__otoks"))
        )

        # span of the gram starting at 1-based token p: [p, p + n - 1],
        # clamped to the doc end (the whole-doc gram of a short doc)
        span_end = lambda p: F.least(p + (n - 1), F.col("__ntok"))  # noqa: E731
        empty_spans = F.expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)")
        spans = F.aggregate(
            F.coalesce(F.col("__hits"), F.expr("CAST(array() AS ARRAY<INT>)")),
            empty_spans,
            lambda acc, p: F.when(
                (F.size(acc) > 0)
                & (p <= F.element_at(acc, -1)["e"] + F.lit(1)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], span_end(p)
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(
                F.concat(
                    acc,
                    F.array(
                        F.struct(p.alias("s"), span_end(p).alias("e"))
                    ),
                )
            ),
        )
        # stage the spans array too — read three times below
        staged = j.withColumn("__spans", spans)
        kept = F.filter(
            F.col("__otoks"),
            lambda v, i: ~F.exists(
                F.col("__spans"),
                lambda s_: (i + 1 >= s_["s"]) & (i + 1 <= s_["e"]),
            ),
        )
        out = staged.select(
            F.col(id_col),
            # NULL text -> NULL token array -> report 0 tokens
            F.coalesce(F.col("__ntok"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
            F.size("__spans").cast("bigint").alias("n_spans_removed"),
            F.aggregate(
                F.col("__spans"),
                F.lit(0),
                lambda a, s_: a + (s_["e"] - s_["s"] + F.lit(1)),
            ).cast("bigint").alias("n_tokens_removed"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
        # materialize before unpersist (same lifecycle as
        # duplicated_ngram_spans): the caller gets a stable frame, not a
        # lazy plan whose cache is already gone
        return _ckpt(out, label="dedup_result")
    finally:
        g.unpersist()
