"""Deduplication operators for training-data pipelines.

Five dedup families, all expressed as DataFrame compositions over built-in
functions (JVM-side; the only shuffles are the ones the algorithm demands):

  exact          hash-groupBy on a normalized-text fingerprint
  minhash + LSH  word-shingles -> k portable minhashes -> banded bucket-join
  simhash        bitwise majority over token hashes -> hamming-ball pairs
  ngram-jaccard  exact Jaccard on shingle sets (verification + small-scale)
  embedding      cosine-similarity near-dup over array<float> embeddings

Scale notes (the part that matters at 100 TB):
  * every signature is computed in one pass over the scan — built-in
    expressions, except the hyperplane band values (one numpy matmul per
    Arrow batch);
  * LSH candidate generation shuffles on the bucket key — the classic
    band-bucket join — and only candidate pairs (a tiny fraction) reach the
    exact-verification stage.  Every banded operator enumerates pairs
    through one bucket join (``_candidate_pairs``: ``id_l < id_r`` pushed
    into the join condition, so each pair materializes once) and verifies
    them through one step (``_score_pairs``: payloads are hash-joined back
    to the deduplicated candidates);
  * ``ngram_jaccard_pairs`` and ``embedding_neardup_pairs`` are the O(n²)
    brute-force variants, the correctness oracles and small-input paths;
    the banded paths are the 1000-executor plan.

All hashes are the md5-based portable hash (functions.text.portable_hash60),
so the DuckDB oracle can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import portable_round

from pyspark import StorageLevel

from ..functions.text import fingerprint, normalize_text, portable_hash60


_LOCK = threading.RLock()
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """Persist a signature table that a self-join will scan from both sides.

    Without this, Spark re-executes the signature subtree (md5 shingling /
    hyperplane projection) once per join branch — the most expensive pass in
    every LSH operator runs 2-4x.  MEMORY_AND_DISK keeps the win at any
    scale (narrow signature tables spill gracefully).

    The frame lands in a lock-guarded session registry drained by
    ``cleanup_persisted()``.  Operators never flush the registry themselves —
    an earlier result the caller still holds lazily keeps its cache until
    the OWNER releases it (Spark's LRU eviction is the backstop if nobody
    does).
    """
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _PERSISTED.append(df)
    return df


def cleanup_persisted() -> int:
    """Unpersist every frame in the session registry; returns the number
    released.  Safe at any time: an unpersisted plan recomputes."""
    n = 0
    with _LOCK:
        frames, _PERSISTED[:] = _PERSISTED[:], []
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


def _ensure_parallel(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition narrow inputs so per-row-heavy operators use all cores.

    A single small parquet file scans as one partition; signature
    computation (md5 per shingle/token) is CPU-bound and embarrassingly
    parallel, so hash-spread it on the id before the heavy projection.
    The probe uses ``inputFiles()`` (driver-side listing, no plan-to-RDD
    conversion): with at least ``defaultParallelism`` files the scan is
    already parallel and the corpus is NOT reshuffled — at cluster scale
    this branch is the common case and costs nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source (in-memory fixture): size unknown
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target, F.col(key_col))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint.

    One hash-aggregate; at scale this is a single shuffle on the 128-bit
    fingerprint with near-perfect key distribution.
    """
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .groupBy("__fp")
        .agg(F.min(F.col(id_col)).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Overlapping word n-gram shingles of the normalized text (distinct).

    Docs shorter than n words contribute their full text as one shingle so
    they still participate in dedup.
    """
    w = F.filter(F.split(normalize_text(text), " "), lambda x: x != "")

    def grams(wa: Column) -> Column:
        # `wa` binds the words array ONCE per row; referencing `w` inside the
        # inner lambda would re-run the whole regex/split chain per shingle
        # (higher-order functions are interpreted, not codegen'd — that
        # turns O(words) into O(words²) regex work)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(wa) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(wa, i, n)),
            )
        )

    return F.element_at(F.transform(F.array(w), grams), 1)


M31 = 2147483647  # Mersenne prime 2^31-1: universal-hash modulus


def _mix_consts(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) pairs for universal hashing, derived from
    md5 so any engine can rebuild them."""
    import hashlib

    out = []
    for k in range(n_hashes):
        d = hashlib.md5(f"minhash{k}".encode()).hexdigest()
        a = (int(d[:8], 16) % (M31 - 1)) + 1
        b = int(d[8:16], 16) % M31
        out.append((a, b))
    return out


def minhash_signature(text: Column, n_hashes: int = 32, shingle_n: int = 3) -> Column:
    """k-minhash signature as array<bigint>.

    One md5 per shingle (the portable base hash, mod 2^31-1), then k cheap
    universal-hash mixes ``(a_k*h + b_k) mod M31`` — all products stay under
    2^62, no overflow on any engine.  Two tree-size disciplines matter here:

    * the base-hash array is bound ONCE via a single-element ``transform``
      lambda so the md5 pass is not duplicated per hash function;
    * the k mixes are driven by LITERAL CONST ARRAYS indexed inside one
      nested ``transform`` instead of k unrolled expressions — the logical
      plan stays O(1) in ``n_hashes``.  The unrolled form made Catalyst
      analysis/optimization (driver-side, single-threaded) the job's serial
      bottleneck: at 48 hashes it dominated wall time and capped N->4N
      scaling at ~0.35 regardless of executor count.
    """
    sh = word_shingles(text, shingle_n)
    base = F.transform(sh, lambda s: F.pmod(portable_hash60(s), F.lit(M31)))
    consts = _mix_consts(n_hashes)
    a_arr = F.array(*[F.lit(a) for a, _ in consts])
    b_arr = F.array(*[F.lit(b) for _, b in consts])

    def build(b: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(n_hashes)),
            lambda k: F.array_min(
                F.transform(
                    b,
                    lambda h: F.pmod(
                        F.element_at(a_arr, k) * h + F.element_at(b_arr, k), F.lit(M31)
                    ),
                )
            ),
        )

    # bind `base` to a lambda variable -> evaluated once per row
    return F.element_at(F.transform(F.array(base), build), 1)


def _band_explode(base: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, sig) -> NARROW (id, band_id, band_hash) rows.

    The banding join carries ids and 32-hex band hashes only — the wide
    shingle arrays never enter the bucket shuffle.  At 10^9 docs this is
    the difference between shuffling ids and shuffling the corpus.
    """
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    r = n_hashes // bands
    return base.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(F.concat_ws(",", F.transform(
                        F.slice(F.col("sig"), b * r + 1, r), lambda v: v.cast("string")
                    ))).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(
        "id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )


def _candidate_pairs(
    banded: DataFrame, keys: list[str], index: DataFrame | None = None
) -> DataFrame:
    """Bucket join: NARROW ``(id, *keys)`` rows -> distinct ``(id_l, id_r)``
    pairs, ``id_l < id_r``, of ids that share at least one bucket.

    The self-join pushes ``l.id < r.id`` into the join condition, so each
    pair materializes once per shared bucket.  With ``index`` (an
    already-indexed corpus, same columns) the ``banded``-vs-``index`` pairs
    join too: an id may sit on either side there, so that join keeps
    ``l.id != r.id`` and orders each pair by least/greatest.  One
    ``dropDuplicates`` over the union collapses pairs that share several
    buckets.
    """
    l_id, r_id = F.col("l.id"), F.col("r.id")

    def bucket_join(other: DataFrame, ids: Column) -> DataFrame:
        on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        return banded.alias("l").join(other.alias("r"), on + [ids])

    pairs = bucket_join(banded, l_id < r_id).select(l_id.alias("id_l"), r_id.alias("id_r"))
    if index is not None:
        pairs = (
            bucket_join(index, l_id != r_id)
            .select(F.least(l_id, r_id).alias("id_l"), F.greatest(l_id, r_id).alias("id_r"))
            .union(pairs)
        )
    return pairs.dropDuplicates(["id_l", "id_r"])


def _score_pairs(
    cand: DataFrame, values: DataFrame, score: Callable[[Column, Column], Column], name: str
) -> DataFrame:
    """Verification: hash-join the (deduplicated, small) candidate pairs back
    to the ``(id, value)`` frame twice -> ``(id_l, id_r, <name>)`` with
    ``<name> = score(value_l, value_r)``.  Payloads never ride the bucket
    shuffle; callers filter on their own threshold."""
    return (
        cand.join(values.toDF("id_l", "__l"), "id_l")
        .join(values.toDF("id_r", "__r"), "id_r")
        .select("id_l", "id_r", score(F.col("__l"), F.col("__r")).alias(name))
    )


def _signature_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """One scan: (id, sh, sig) — shingles kept aside for verification, the
    narrow signature for banding."""
    return df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
        minhash_signature(F.col(text_col), n_hashes, shingle_n).alias("sig"),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (already distinct)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Brute-force exact-Jaccard near-dup pairs (id_l < id_r).

    O(n²) compare — the correctness oracle and small-input path.  At scale
    use ``minhash_lsh_pairs``, which bounds the compare set to LSH
    candidates.
    """
    df = _ensure_parallel(df, id_col)
    sh = _persist(
        df.select(
            F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_n).alias("sh")
        )
    )
    l = sh.alias("l")
    r = sh.alias("r")
    pairs = l.join(r, F.col("l.id") < F.col("r.id"))
    return (
        pairs.select(
            F.col("l.id").alias("id_l"),
            F.col("r.id").alias("id_r"),
            portable_round(jaccard(F.col("l.sh"), F.col("r.sh"))).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified (id_l < id_r).

    Plan shape:
      1. one scan: signature + shingles per doc;
      2. explode to ``bands`` rows/doc; band key = md5 of the band's slice
         -> shuffle on (band_id, band_hash) groups only colliding docs;
      3. self-join per bucket emits candidate pairs (dedup'd across bands);
      4. exact Jaccard verification keeps true near-dups.

    With r = n_hashes/bands rows per band, collision prob at similarity s is
    1-(1-s^r)^b — tuned so s >= threshold is caught with high probability;
    verification removes false positives, so precision is exact.
    """
    # spread per-row signature work across cores even when the source is a
    # single file (locally) — at cluster scale the scan is already parallel
    df = _ensure_parallel(df, id_col)

    # one scan: shingles (wide, kept aside) + signature (narrow)
    base = _signature_base(df, id_col, text_col, n_hashes, shingle_n)
    # persist the NARROW banded table only: the self-join scans it twice, and
    # without the persist the whole md5 signature pass re-executes per branch.
    # The wide shingle table is deliberately NOT persisted — columnar-caching
    # array<string> columns costs more than recomputing the shingle split.
    banded = _persist(_band_explode(base, n_hashes, bands))
    cand = _candidate_pairs(banded, ["band_id", "band_hash"])
    return _score_pairs(
        cand, base.select("id", "sh"), lambda a, b: portable_round(jaccard(a, b)), "jaccard_sim"
    ).filter(F.col("jaccard_sim") >= threshold)


# ---------------------------------------------------------------------------
# incremental dedup: maintained signature index + delta-vs-index pairs
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The maintainable LSH index relation: (id, band_id, band_hash).

    A 100 TB pipeline re-deduping a daily increment keeps this table as a
    catalog relation (write once over the corpus, APPEND each batch's
    ``minhash_index(new_docs)``) so signatures are computed exactly once per
    document ever — ``minhash_lsh_pairs_incremental`` joins a delta against
    it instead of re-signaturing the whole corpus per run.
    """
    df = _ensure_parallel(df, id_col)
    base = _signature_base(df, id_col, text_col, n_hashes, shingle_n)
    return _band_explode(base, n_hashes, bands).withColumnRenamed("id", id_col)


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against an already-indexed corpus.

    Output = every verified pair involving >=1 new doc (normalized
    id_l < id_r) — bit-equal to the corresponding subset of a full
    ``minhash_lsh_pairs`` recompute over corpus+delta, at cost proportional
    to the DELTA, not the corpus:

      1. signatures + banding for the new docs only (one scan of the delta);
      2. candidates = delta-vs-index bucket join  UNION  delta-vs-delta
         self-join — the index side ships (id, band_id, band_hash) rows
         only, never text or signatures;
      3. exact-Jaccard verification re-shingles only the docs that appear
         in some candidate pair (a join back to the corpus/delta text).

    ``index`` is the relation built by ``minhash_index`` over the indexed
    corpus (same n_hashes/bands/shingle_n — the hash family must match);
    ``corpus`` provides (id, text) for verification.  After this, append
    ``minhash_index(new_df)`` to the index to absorb the batch.
    """
    new_df = _ensure_parallel(new_df, id_col)
    new_base = _signature_base(new_df, id_col, text_col, n_hashes, shingle_n)
    new_banded = _persist(_band_explode(new_base, n_hashes, bands))
    idx = index.select(F.col(id_col).alias("id"), F.col("band_id"), F.col("band_hash"))
    # delta-vs-index plus delta-vs-delta: the new batch also dedups against itself
    cand = _persist(_candidate_pairs(new_banded, ["band_id", "band_hash"], index=idx))

    # verification: re-shingle ONLY candidate docs, fetched via a semi-join
    # on the candidate-id set — the corpus text table is scanned once with
    # the id filter and never shuffled wholesale, keeping the whole verify
    # phase proportional to the candidate volume rather than the corpus
    # (the delta-∝-cost claim would otherwise break on the join).
    texts = corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")).unionByName(
        new_df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    )
    cand_ids = (
        cand.select(F.col("id_l").alias("id"))
        .union(cand.select(F.col("id_r").alias("id")))
        .distinct()
    )
    # candidate volume is DATA-DEPENDENT (a hot band_hash in the index can
    # explode the delta-vs-index join), so the broadcast hint is gated on
    # the measured id count (cand is already persisted — the count only
    # materializes work the verify phase needs anyway); past the gate the
    # join strategy is left to AQE, which sees the real size at runtime
    # (ADVICE r4: an unconditional F.broadcast can exceed driver memory).
    n_cand_ids = cand_ids.count()
    probe = F.broadcast(cand_ids) if n_cand_ids <= 1_000_000 else cand_ids
    sh = _persist(
        texts.join(probe, "id").select(
            "id", word_shingles(F.col("__t"), shingle_n).alias("sh")
        )
    )
    return _score_pairs(
        cand, sh, lambda a, b: portable_round(jaccard(a, b)), "jaccard_sim"
    ).filter(F.col("jaccard_sim") >= threshold)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash: sign of the per-bit majority vote over token hashes.

    Fold over the token array with a ``bits``-wide counter vector — single
    projection, no explode, no UDF.
    """
    def pack(counters: Column) -> Column:
        packed = F.lit(0).cast("long")
        for b in range(bits):
            packed = packed + F.when(
                F.element_at(counters, b + 1) > 0, F.lit(1 << b)
            ).otherwise(F.lit(0)).cast("long")
        return packed

    w = F.filter(F.split(normalize_text(text), " "), lambda x: x != "")
    hashes = F.transform(w, portable_hash60)
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for b in range(bits)
                ]
            ),
            lambda a, d: a + d,
        ),
        pack,  # finish fn: bit-pack the counter vector once
    )


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Scale path: pigeonhole blocking.  Split the simhash into
    ``max_hamming+1`` segments; any pair within the hamming ball collides on
    >=1 exact segment, so candidates come from a bucket join on
    (segment_id, segment_value) instead of an n² compare.  The bucket join
    carries (id, seg_id, seg_val) rows only; the simhash joins back in the
    verify step."""
    n_seg = max_hamming + 1
    seg_bits = bits // n_seg
    df = _ensure_parallel(df, id_col)
    s = _persist(df.select(F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh")))
    segs = s.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_id"),
                        F.shiftright(F.col("sh"), i * seg_bits)
                        .bitwiseAND(F.lit((1 << seg_bits) - 1))
                        .alias("seg_val"),
                    )
                    for i in range(n_seg)
                ]
            )
        ).alias("seg"),
    ).select("id", "seg.seg_id", "seg.seg_val")
    cand = _candidate_pairs(segs, ["seg_id", "seg_val"])
    return _score_pairs(
        cand, s, lambda a, b: hamming(a, b).cast("int"), "hamming_dist"
    ).filter(F.col("hamming_dist") <= max_hamming)


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-dup pairs over embeddings (id_l < id_r), brute force.

    O(n²) — the correctness oracle and small-input path.  At scale use
    ``embedding_neardup_pairs_lsh``, which bounds the compare set to
    hyperplane-LSH band collisions.
    """
    from ..functions.vectors import cosine

    df = _ensure_parallel(df, id_col)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    l = v.alias("l")
    r = v.alias("r")
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_l"),
            F.col("r.id").alias("id_r"),
            portable_round(cosine(F.col("l.v"), F.col("r.v"))).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 8,
    rows_per_band: int = 6,
    n_dims: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via banded random-hyperplane LSH — the scale path.

    Same plan shape as ``minhash_lsh_pairs`` (the 1000-executor plan):
      1. one scan computes ``bands`` packed sign-bit band values per vector
         (``rows_per_band`` hyperplane dots each) — one numpy matmul per
         Arrow batch (``similarity.band_values_arrow``);
      2. explode to (id, band_id, band_val) — NARROW rows; the vectors never
         enter the bucket shuffle;
      3. self-join on (band_id, band_val) emits candidates (id_l < id_r,
         dedup'd across bands);
      4. exact-cosine verification keeps true near-dups, so precision is
         exact and recall is the banding guarantee.

    For sign-LSH, P[bit collision] = 1 - theta/pi where cos(theta) = s.  At
    the near-dup regime (s >= 0.95 -> p >= 0.899), a pair is missed with
    probability (1 - p^r)^b — with r=6/b=8 that is < 2e-3 at s=0.95 and
    < 3e-8 at s=0.99 — while random pairs (p = 0.5) collide in a band with
    probability 2^-6, so the candidate set is ~12% of n² instead of 100%
    (and far less on clustered real data; raise bands for higher recall).
    Hyperplanes are md5-derived (similarity.hyperplanes) — deterministic,
    engine-portable, no RNG.
    """
    from ..functions.vectors import cosine
    from .similarity import band_values_arrow, hyperplanes

    if n_dims is None:
        n_dims = len(df.select(vec_col).first()[0])
    planes = hyperplanes(bands * rows_per_band, n_dims)

    df = _ensure_parallel(df, id_col)
    v = _persist(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))

    banded = _persist(
        band_values_arrow(v, "id", "v", planes, bands, rows_per_band).select(
            "id", F.posexplode("bands").alias("band_id", "band_val")
        )
    )
    cand = _candidate_pairs(banded, ["band_id", "band_val"])
    return _score_pairs(
        cand, v, lambda a, b: portable_round(cosine(a, b)), "cosine_sim"
    ).filter(F.col("cosine_sim") >= threshold)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: pairs -> connected components -> keep/drop
# ---------------------------------------------------------------------------


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger neighbors to
    the minimum of its neighborhood (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14).

    Spelled as ONE window over the neighborhood instead of the groupBy-min +
    self-join pair (r7, guide §2.4: the min and its re-attachment share one
    partitioning, so a window computes both in a single exchange — each star
    round drops from 3 shuffles to 2 and loses its join operator)."""
    from pyspark.sql import Window

    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        und.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller-or-equal neighbors
    (and itself) to the minimum among them.

    Same one-window spelling as :func:`_large_star`; the self edges are
    emitted once per incident edge instead of once per node — the trailing
    ``distinct`` (needed anyway for the fixed-point contract) collapses
    them, so the output set is unchanged while the groupBy+join pair and
    its extra shuffle disappear."""
    from pyspark.sql import Window

    d = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    dm = d.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    children = dm.select(F.col("v").alias("node"), F.col("m"))
    selves = dm.select(F.col("u").alias("node"), F.col("m"))
    return (
        children.union(selves)
        .filter(F.col("node") != F.col("m"))
        .select(F.col("node").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_l: str = "id_l",
    id_r: str = "id_r",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph -> (id, cluster).

    Alternating large-star / small-star rounds (each is a groupBy-min plus a
    hash join — no UDF, no collect, no driver-side graph), converging in
    O(log n) rounds; at convergence the edge set is a star forest pointing
    every node at its component's minimum id.  Each round checkpoints the
    edge set and detects the fixed point EXACTLY — equal row count plus an
    empty one-sided ``exceptAll`` against the previous round (both sides
    are distinct sets, so that is set equality; a hash signature could
    collide and stop early), so the loop runs exactly as many shuffles as
    the graph needs.

    This is the operator every training-data dedup pipeline actually runs:
    LSH emits near-dup PAIRS; keep/drop decisions need transitive closure
    (A~B, B~C => {A,B,C} share one canonical representative even when A~C
    itself was never emitted).

    Output: one row per non-singleton node — (id, cluster) with
    cluster = min(component).  Singletons (nodes in no pair) never enter the
    edge set; callers left-join and coalesce(cluster, id).
    """
    e = (
        pairs.select(F.col(id_l).alias("u"), F.col(id_r).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = None
    prev_n = -1
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(e))
        # Checkpoint, don't just persist: each round's plan nests the
        # previous round's, and Catalyst re-analysis goes super-linear after
        # a handful of iterations even over cached data.  Truncating the
        # lineage keeps every round O(current edge set).  A reliable
        # checkpoint dir (sc.setCheckpointDir) also makes rounds survive
        # executor loss on a real cluster; localCheckpoint is the fallback.
        sc = nxt.sparkSession.sparkContext
        nxt = (
            nxt.checkpoint(eager=True)
            if sc.getCheckpointDir()
            else nxt.localCheckpoint(eager=True)
        )
        # the previous round's checkpointed blocks are reclaimed by Spark's
        # ContextCleaner once unreferenced; collect now so the py4j handle
        # drops immediately instead of piling one edge-set copy per round
        import gc

        prev, e = e, nxt
        gc.collect()
        # EXACT fixed-point test, not a hash signature (a collision between
        # two different edge sets would silently return non-converged
        # labels): both sides are checkpointed distinct sets, so equal
        # count + empty one-sided difference <=> equal sets.  The anti-join
        # runs on the already-tiny star forest — one cheap extra job/round.
        n = e.count()
        if n == prev_n and e.exceptAll(prev).isEmpty():
            break
        prev_n = n
    else:  # pragma: no cover — max_rounds is far above log2(any real n)
        raise RuntimeError(f"connected_components did not converge in {max_rounds} rounds")
    return e.select(F.col("u").alias("id"), F.col("v").alias("cluster"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical keep/drop decisions from near-dup pairs.

    Joins the corpus to the connected components of the pair graph:
      cluster_id = min doc id of the component (the canonical representative,
                   the usual keep policy in training-data dedup),
      keep       = this doc IS the representative.

    One extra broadcast-or-shuffle join over the corpus; the components table
    is tiny relative to the corpus (only docs that appear in any pair).
    """
    labels = connected_components(pairs, id_l="id_l", id_r="id_r")
    out = (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return out.withColumn("keep", F.col("cluster_id") == F.col(id_col))


# ---------------------------------------------------------------------------
# streaming ingest dedup
# ---------------------------------------------------------------------------


def exact_dedup_stream(
    df: DataFrame, keys: list[str], ts_col: str = "ts", grace: str = "10 minutes"
) -> DataFrame:
    """Exactly-once ingest dedup for a STREAM: drop re-deliveries of the same
    key within the watermark horizon.

    Lowered to ``dropDuplicatesWithinWatermark`` — Spark's bounded-state
    dedup operator: state holds one entry per key seen inside the watermark
    window and is evicted as event time advances, so (unlike a plain
    ``dropDuplicates`` on a stream) state does NOT grow with the full key
    history.  This is the ingestion-side twin of the sink's idempotent epoch
    commit: the sink dedups re-delivered EPOCHS, this dedups re-delivered
    ROWS (at-least-once upstreams, replayed producers).

    Batch frames fall back to a plain ``dropDuplicates`` (same semantics
    when every duplicate is in the frame).
    """
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, grace).dropDuplicatesWithinWatermark(keys)
