"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline extension set (BASELINE.json north star). All four
are expressed with built-in Spark SQL functions — higher-order array
functions and hash primitives — so the hot path stays JVM-side with no
Python UDFs.

Scale design (100 TB):
- Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle keyed by
  an (effectively) unique hash: perfectly balanced, no skew.
- MinHash+LSH: per-row signature computation is embarrassingly parallel; the
  only shuffle is the band-bucket self-join, whose key cardinality (band ×
  band-hash) grows with data size, keeping partitions bounded. Candidate
  verification touches only bucket-mates, never all pairs.
- SimHash: signature is a 63-bit int; near-dup candidates come from banding
  the signature (4×16-bit bands), then Hamming-verify via bit_count(xor).
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import exact_fingerprint, tokens
from .util import fan_out, segment_window


def _non_blank(df: DataFrame, text_col: str) -> DataFrame:
    """Drop rows whose text is null/empty/whitespace-only BEFORE sketching.

    Every blank doc shingles to [''] (and simhashes to signature 0), so all
    blank docs would collide in every band — one hot bucket and
    O(n_blank²) candidate pairs, a skew bomb at scale. Blank docs carry no
    near-dup signal; exact_dedup_groups is the right tool for them.
    """
    return df.filter(F.trim(F.col(text_col)) != "")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) documents: fingerprint → group size +
    canonical keeper (min id)."""
    return (
        df.select(F.col(id_col), exact_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep one row per identical document (the min-id row)."""
    from .top1 import top1_per_group

    with_fp = df.withColumn("__fp", exact_fingerprint(text_col))
    return top1_per_group(with_fp, ["__fp"], [F.asc(id_col)]).drop("__fp")


# ---------------------------------------------------------------------------
# Word-set (n-gram) Jaccard via inverted-index self-join
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with word-set Jaccard ≥ threshold, via an inverted-index
    join (docs only meet on shared words — never a full cross join).

    ``block_col`` restricts candidates to the same block (e.g. language),
    the classic blocking trick to bound bucket sizes at scale.
    """
    blocks = [block_col] if block_col else []
    df = fan_out(df)
    words = df.select(
        F.col(id_col).alias("doc"), *blocks, F.explode(F.array_distinct(tokens(text_col))).alias("w")
    ).filter(F.col("w") != "")  # split('') yields [''] — a blank doc must not join every other blank doc
    sizes = words.groupBy("doc").agg(F.count(F.lit(1)).alias("set_size"))

    left = words.alias("a")
    right = words.alias("r")
    join_cond = [F.col("a.w") == F.col("r.w")] + [
        F.col(f"a.{b}") == F.col(f"r.{b}") for b in blocks
    ]
    inter = (
        left.join(right, join_cond)
        .filter(F.col("a.doc") < F.col("r.doc"))
        .groupBy(F.col("a.doc").alias("doc1"), F.col("r.doc").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("set_size", "size1"), "doc1")
        .join(sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("set_size", "size2"), "doc2")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size1") + F.col("size2") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc1", "doc2", "n_common", "size1", "size2", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Recently persisted shingle/banded relations (see minhash_lsh_pairs
# lifecycle note). Bounded LRU with semantic dedup, guarded by a lock:
# Project.run() executes nodes in a thread pool, so concurrent
# minhash_lsh_pairs calls mutate this concurrently, and an unbounded
# "pop the previous" policy would unpersist an index another in-flight
# call still needs lazily. Keep = 8 holds two in-flight cross-corpus
# calls (each tracks up to 4 relations: new/corpus x shingled/banded).
_INDEX_LOCK = threading.Lock()
_INDEX_CACHE_KEEP = 8
_PERSISTED_INDEXES: list[DataFrame] = []


def release_shingle_indexes() -> None:
    """Explicitly unpersist all cached shingle indexes. Call when no
    DataFrame returned by ``minhash_lsh_pairs`` will be evaluated again."""
    with _INDEX_LOCK:
        while _PERSISTED_INDEXES:
            _PERSISTED_INDEXES.pop().unpersist()

def shingles(col: Column | str, k: int = 3) -> Column:
    """k-word shingle array (contiguous token windows, joined by spaces)."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles_hashed(col: Column | str, k: int = 3) -> Column:
    """64-bit-hashed k-word shingles (array<long>).

    The LSH index stores THESE, not the shingle strings: ~6x less memory
    per row (a 150-word doc's shingles are ~5 KB of strings vs ~1.2 KB of
    longs), which bounds the per-task heap during the index build — the
    5M-doc probe OOMed 32 concurrent tasks x ~600 MB of string arrays in
    an 8 GB local heap with string shingles — and shrinks every downstream
    shuffle/persist byte. Set semantics (signatures, Jaccard verify) are
    preserved up to 64-bit hash collisions (~n^2/2^64; negligible at any
    feasible shingle count).
    """
    return F.transform(shingles(col, k), lambda s: F.xxhash64(s))


def minhash_signature(col: Column, num_hashes: int = 32, pre_hashed: bool = False) -> Column:
    """MinHash signature: for seed s, min over shingles of
    xxhash64(base_hash(shingle), s).

    Each shingle string is hashed exactly ONCE (the expensive variable-width
    hash); the ``num_hashes`` independent hash functions then re-hash the
    resulting fixed-width long, which is ~an order of magnitude cheaper per
    slot than re-hashing the string. xxhash64 is a Spark built-in and
    deterministic across runs/executors. With ``pre_hashed`` the input is
    already an array<long> of base hashes (``shingles_hashed``) and the
    string pass is skipped — signatures are identical either way.
    """
    seeds = F.array(*[F.lit(s) for s in range(num_hashes)])
    init = F.array_repeat(F.lit(0x7FFFFFFFFFFFFFFF).cast("long"), num_hashes)
    # Single fold over the shingle array: each shingle string is hashed once
    # (variable-width hash), then each of the num_hashes slots takes
    # min(acc, xxhash64(base, seed)) — a cheap fixed-width mix — via zip_with.
    base = col if pre_hashed else F.transform(col, lambda sh: F.xxhash64(sh))
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            seeds,
            lambda a, s: F.least(a, F.xxhash64(h, s)),
        ),
    )


def minhash_signatures_agg(shingled: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, sig) via posexplode + codegen min-aggregations — the at-scale
    alternative to the ``F.aggregate`` fold, which is a CodegenFallback
    (interpreted) expression costing ~num_hashes interpreted evals PER
    SHINGLE (5M docs x ~125 shingles x 32 slots = 20B interpreted ops at
    the dedup-corpus probe). Here the explode and the 32 hash+min aggs are
    whole-stage-codegen, the partial agg reduces map-side to one row per
    doc before the shuffle, and the signatures are BIT-IDENTICAL to the
    fold's (same xxhash64(h, seed) per slot, min is order-free). The fold
    wins at small corpora (no shuffle, no extra stage); see
    BENCH_NOTES.md round-7 for the measured crossover.
    """
    flat = shingled.select("doc", F.explode("sh").alias("h"))
    per_doc = flat.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.col("h"), F.lit(s))).alias(f"__m{s}")
            for s in range(num_hashes)
        ]
    )
    return per_doc.select(
        "doc", F.array(*[F.col(f"__m{s}") for s in range(num_hashes)]).alias("sig")
    )


#: On-disk corpus bytes above which the signature path switches from the
#: in-row ``F.aggregate`` fold (no shuffle — wins at small corpora where
#: the extra stage/shuffle dominates) to the posexplode + codegen
#: min-aggs (wins once the fold's interpreted per-shingle evals
#: dominate). Measured at the crossover's two sides (BENCH_DD3_DECOMP_r15
#: conditions, full pipeline, noop sink): 0.6 MB corpus — fold 0.95 s vs
#: agg 1.51 s; 58 MB corpus — fold 40.8 s vs agg 38.2 s. Same
#: metadata-only cost-model discipline as star_layout.ROUTE_MIN_FACT_BYTES.
SIG_AGG_MIN_BYTES = 16 << 20


def _input_disk_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of a frame's source files (inputFiles() + os.stat,
    metadata-only). None when the input cannot be sized (in-memory
    frames, non-local paths)."""
    try:
        files = df.inputFiles()
        total = 0
        for f in files:
            if f.startswith("file:"):
                f = "/" + f.split(":", 1)[1].lstrip("/")
            total += os.stat(f).st_size
    except (OSError, Py4JError, PySparkException):
        return None
    if not files:
        return None
    return total


def _resolve_sig_mode(total: int | None, sig_mode: str) -> str:
    """``auto`` → fold/agg by the input's on-disk bytes ``total`` (from
    ``_input_disk_bytes``); explicit modes pass through. An input that
    could not be sized takes the shuffle-free fold."""
    if sig_mode != "auto":
        return sig_mode
    if total is None:
        return "fold"
    return "agg" if total >= SIG_AGG_MIN_BYTES else "fold"


#: On-disk corpus bytes above which the shingle stage switches from the
#: Catalyst expression path (``shingles_hashed`` — interpreted HOFs, but
#: zero Python-boundary cost, wins on tiny corpora) to the Arrow path
#: (``operators.shingle_arrow`` — vectorized numpy XXH64 over byte
#: windows of the normalized text, no intermediate shingle strings).
#: Hash values are BIT-IDENTICAL either way (pinned in
#: tests/test_shingle_arrow.py), so the pair set does not depend on the
#: mode. Threshold measured in OPTIMIZATION_r16.md (shingle-stage A/B).
SHINGLE_ARROW_MIN_BYTES = 4 << 20


def _resolve_shingle_mode(total: int | None, shingle_mode: str) -> str:
    """``auto`` → expr/arrow by the input's on-disk bytes ``total``;
    explicit modes pass through. Unsizeable inputs take the expression
    path (no Python workers needed, always safe)."""
    if shingle_mode != "auto":
        return shingle_mode
    if total is None:
        return "expr"
    return "arrow" if total >= SHINGLE_ARROW_MIN_BYTES else "expr"


#: Source-corpus on-disk bytes ABOVE which the LSH candidate pipeline
#: switches from broadcast-friendly joins (tiny corpora: the banded
#: relation and the shingle index auto-broadcast under the session
#: threshold, zero extra stages — right for the driver's small-SF bench
#: where dd3 is scheduler-floor bound) to the cluster-true shuffle
#: shape: SHUFFLE_HASH band self-join (a corpus-sized banded relation
#: can never ride a broadcast at 100 TB) and a shuffle-hash first
#: verify join. Measured at 500k docs (OPTIMIZATION_r16.md, min-of-3):
#: shuffle shape 22.3 s vs 25.9-28.1 s for the all-broadcast plan —
#: the 416 MiB banded broadcast plus one of the two 260 MiB index
#: broadcasts were single-threaded driver builds the shuffle shape
#: replaces with parallel 130-450 MB exchanges. Same metadata-only
#: cost-model discipline as SIG_AGG_MIN_BYTES above.
CAND_SHUFFLE_MIN_BYTES = 16 << 20

#: Source-corpus on-disk bytes up to which the SECOND verify join
#: broadcasts the shingle index explicitly. Join2 re-keys the pair
#: stream by doc2 while each row already carries its ~450 B sh1 array —
#: a shuffle there moves ~15 GB at 500k docs (OPTIMIZATION_r16.md:
#: autoBroadcastJoinThreshold=-1 ran 56 s vs 22-28 s), so the broadcast
#: is kept for any corpus whose index plausibly fits an executor
#: (256 MB of source text ≈ 1.2 GB of hashed index). Past the gate the
#: plain join stands and the pair stream pays the exchange — at an
#: unbounded corpus there is no broadcastable side, and the candidate
#: volume (bounded by true near-dup density) is the honest cost.
VERIFY_J2_BROADCAST_MAX_SRC_BYTES = 256 << 20


def _use_shuffle_cand(src_bytes: int | None) -> bool:
    return src_bytes is not None and src_bytes >= CAND_SHUFFLE_MIN_BYTES


def _jaccard_threshold_cond(n_inter: Column, s12: Column, threshold: float) -> Column:
    """The verify predicate ``n/(s1+s2-n) >= threshold`` with ONE
    array_intersect evaluation and, when possible, no double division.

    When ``threshold`` is exactly a small rational p/q (0.5, 0.4, 1.0 —
    every declared query's threshold), the double-division comparison is
    provably equivalent to the exact integer test ``n*(p+q) >= p*(s1+s2)``:
    J >= p/q  ⟺  n(q+p) >= p(s1+s2) in the rationals, and the rounded
    double division cannot cross the threshold because the gap between
    any attainable ratio and p/q is at least 1/(q*(s1+s2-n)) — with
    q <= 64 and feasible array sizes that is >= 2^-40, orders of
    magnitude above the 2^-53 ulp at which rounding could flip the
    comparison. Thresholds with no small exact rational keep the
    original double form."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(64)
    if float(frac) == threshold:
        p, q = frac.numerator, frac.denominator
        return (p + q) * n_inter >= p * s12
    nd = n_inter.cast("double")
    return nd / (s12.cast("double") - nd) >= threshold


def _persist_tracked(df: DataFrame) -> DataFrame:
    """Persist a frame and enroll it in the LRU release cache (see the
    minhash_lsh_pairs lifecycle note).

    Semantic-dedup FIRST: CacheManager dedupes persist() of
    canonically-equal plans into ONE shared InMemoryRelation, so if a
    semantically-equal frame is already tracked, tracking the new one
    again would make the LRU hold N references to one cache entry —
    and evicting ANY of them unpersists the entry every live reference
    still needs. (Observed: bench.py's warmup + min-of-3 repeats, which
    by protocol never release, self-evicted dd3's own shingle cache
    from repeat 2 on once the banded persist doubled the entries per
    call — 0.97 s cache-hit repeats became 7 s full recomputes.)
    Instead the existing frame is refreshed to most-recently-used and
    returned.

    Entries that are no longer cached are dropped from tracking first: a
    DROP TABLE uncaches every frame that scans the table, and handing
    such a frame back would re-read the dropped table's files. They are
    not unpersisted — that would uncache a live entry with the same
    plan."""
    with _INDEX_LOCK:
        _PERSISTED_INDEXES[:] = [
            c for c in _PERSISTED_INDEXES if c.storageLevel != StorageLevel.NONE
        ]
        for i, cached in enumerate(_PERSISTED_INDEXES):
            try:
                same = df.sameSemantics(cached)
            except (Py4JError, PySparkException):
                same = False
            if same:
                _PERSISTED_INDEXES.append(_PERSISTED_INDEXES.pop(i))
                return cached
        out = df.persist()
        _PERSISTED_INDEXES.append(out)
        while len(_PERSISTED_INDEXES) > _INDEX_CACHE_KEEP:
            _PERSISTED_INDEXES.pop(0).unpersist()
        return out


def _shingle_and_band(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    sig_mode: str = "fold",
    shingle_mode: str = "expr",
    with_vec: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: persisted shingle index + skinny banded
    relation (doc, band, bucket). The LSH shuffle carries ONLY the banded
    rows — never the shingle arrays; at 100 TB that is ``bands`` skinny
    rows per document, and shingle payloads rejoin only for candidates.

    ``sig_mode``/``shingle_mode`` arrive resolved: each caller sizes its
    input once (``_input_disk_bytes``) and resolves ``auto`` with
    ``_resolve_sig_mode``/``_resolve_shingle_mode``. The defaults are
    what an unsizeable input resolves to.

    ``with_vec=True`` additionally carries the full per-doc bucket
    vector (``vec`` array<long>[bands]) on every banded row and PERSISTS
    the banded relation. The vector feeds the first-agreeing-band filter
    (exactly-once pair emission — see minhash_lsh_pairs), and the
    persist is manual exchange reuse: the band self-join's two sides
    would otherwise each recompute the whole signature pipeline, because
    physical-plan canonicalization breaks on MapInArrow/InMemoryScan
    subtrees and ReuseExchange never fires here (measured: both sig
    exchanges executed in the r16 SQL-metrics attribution run)."""
    rows_per_band = num_hashes // bands
    # The index stores HASHED shingles (array<long>), not strings — see
    # shingles_hashed: bounded per-task heap at the 5M-doc probe scale and
    # ~6x smaller persist/shuffle bytes; signatures and the Jaccard verify
    # are hash-set-identical. Above SHINGLE_ARROW_MIN_BYTES the hashes
    # come from the vectorized Arrow pass (bit-identical values; the
    # expression path's 15.5 s interpreted-HOF shingle stage at 500k docs
    # was 42% of dd3's wall — BENCH_DD3_DECOMP_r15/r16).
    base = _non_blank(fan_out(df), text_col)
    if shingle_mode == "arrow":
        from .shingle_arrow import shingles_hashed_arrow

        shingled = _persist_tracked(
            shingles_hashed_arrow(base, id_col, text_col, shingle_k)
        )
    else:
        shingled = _persist_tracked(
            base.select(
                F.col(id_col).alias("doc"),
                shingles_hashed(text_col, shingle_k).alias("sh"),
            )
        )
    if sig_mode == "agg":
        sig_df = minhash_signatures_agg(shingled, num_hashes)
    else:
        sig_df = shingled.withColumn(
            "sig", minhash_signature(F.col("sh"), num_hashes, pre_hashed=True)
        ).select("doc", "sig")
    bucket_vec = F.array(
        *[
            F.xxhash64(
                *[
                    F.element_at("sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    if with_vec:
        banded = _persist_tracked(
            sig_df.select("doc", bucket_vec.alias("vec")).select(
                "doc", "vec", F.posexplode("vec").alias("band", "bucket")
            )
        )
    else:
        banded = sig_df.select("doc", bucket_vec.alias("vec")).select(
            "doc", F.posexplode("vec").alias("band", "bucket")
        )
    return shingled, banded


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n_salts: int | None = None,
    sig_mode: str = "auto",
    shingle_mode: str = "auto",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact shingle
    Jaccard. ``sig_mode="auto"`` picks the signature path by corpus bytes
    (``_resolve_sig_mode``): the shuffle-free fold below
    ``SIG_AGG_MIN_BYTES``, the codegen min-agg above it — signatures are
    bit-identical either way, so the pair set does not depend on the mode.

    Pipeline: shingle → signature → band hashes → explode bands → bucket
    self-join (candidates) → exact verify. Only the bucket join shuffles,
    keyed by (band, band_hash).

    ``n_salts`` enables hot-bucket salting for pathological corpora
    (repeated boilerplate → one giant LSH bucket): the candidate self-join
    key becomes (band, bucket, salt), spreading each bucket's pair
    generation over ``n_salts`` reducers. Pair SET is identical; the cost is
    replicating the skinny (doc, band, bucket) relation ``n_salts``× on one
    side of the shuffle.

    Lifecycle note: the shingle index AND the banded relation are
    persisted (the index feeds the signature path and both sides of the
    exact verify; the banded relation feeds both sides of the bucket
    self-join — without the persist each side would recompute the whole
    signature pipeline, because exchange reuse never fires across the
    MapInArrow/InMemoryScan subtrees here). The result DataFrame is
    lazy, so there is no safe in-function unpersist point; instead a
    lock-guarded FIFO keeps the ``_INDEX_CACHE_KEEP`` most recent
    persists and evicts older ones, bounding storage in long-lived
    sessions while leaving room for interleaved/concurrent calls. Call
    ``release_shingle_indexes()`` when done with all results.
    """
    src_bytes = _input_disk_bytes(df)
    shingled, banded = _shingle_and_band(
        df, id_col, text_col, shingle_k, num_hashes, bands,
        sig_mode=_resolve_sig_mode(src_bytes, sig_mode),
        shingle_mode=_resolve_shingle_mode(src_bytes, shingle_mode),
        with_vec=True,
    )
    candidates = _lsh_candidates_once(
        banded, bands, n_salts=n_salts, shuffle=_use_shuffle_cand(src_bytes)
    )
    return _verify_pairs(
        candidates, shingled, ("doc1", "doc2"), threshold, src_bytes
    )


def _lsh_candidates_once(
    banded_a: DataFrame,
    bands: int,
    banded_r: DataFrame | None = None,
    n_salts: int | None = None,
    shuffle: bool = False,
    self_join: bool = True,
) -> DataFrame:
    """Candidate pairs from banded relations, each DISTINCT pair emitted
    EXACTLY ONCE — no dedup aggregate.

    A pair sharing k >= 1 band buckets used to be emitted k times (6.5x
    on the 500k-doc corpus: 176.5M pre-dedup rows for 27.3M candidates)
    and distinct-aggregated away at 7.6 CPU-minutes (the single largest
    dd3 tail cost in the r16 SQL-metrics attribution). Here every
    banded row carries the doc's full bucket vector, and the join keeps
    a pair only at its FIRST agreeing band: for the row's band b, no
    band b' < b may also agree. That makes emission exactly-once by
    construction — the dropDuplicates aggregate (and its hash tables
    over the inflated pair stream) disappears. The filter is seven
    codegen'd long comparisons per joined row.

    ``shuffle=True`` plans the bucket join as SHUFFLE_HASH (the 100 TB
    shape — see CAND_SHUFFLE_MIN_BYTES); small corpora keep the
    broadcast-friendly auto plan.
    """
    if banded_r is None:
        banded_r = banded_a
    if n_salts:
        # Left side: deterministic salt from the doc id (a hot bucket's rows
        # spread over n_salts reducers). Right side: replicated to every
        # salt, so each (d1, d2) bucket-mate pair meets exactly once — at
        # d1's salt — preserving the unsalted pair set.
        a = banded_a.withColumn(
            "salt", F.pmod(F.xxhash64("doc"), F.lit(n_salts)).cast("int")
        ).alias("a")
        b = banded_r.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        ).alias("r")
        join_cond = (
            (F.col("a.band") == F.col("r.band"))
            & (F.col("a.bucket") == F.col("r.bucket"))
            & (F.col("a.salt") == F.col("r.salt"))
        )
    else:
        a, b = banded_a.alias("a"), banded_r.alias("r")
        join_cond = (F.col("a.band") == F.col("r.band")) & (
            F.col("a.bucket") == F.col("r.bucket")
        )
    if shuffle:
        b = b.hint("shuffle_hash")
    pair_filter = (
        F.col("a.doc") < F.col("r.doc")
        if self_join
        else F.col("a.doc") != F.col("r.doc")
    )
    earlier = F.lit(False)
    for band in range(bands - 1):
        earlier = earlier | (
            (F.col("a.band") > band)
            & (F.col("a.vec").getItem(band) == F.col("r.vec").getItem(band))
        )
    return (
        a.join(b, join_cond)
        .filter(pair_filter)
        .filter(~earlier)
        .select(F.col("a.doc").alias("doc1"), F.col("r.doc").alias("doc2"))
    )


def _verify_pairs(
    candidates: DataFrame,
    index1: DataFrame,
    out_cols: tuple[str, str],
    threshold: float,
    src_bytes: int | None,
    index2: DataFrame | None = None,
    src_bytes2: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard verify of a (doc1, doc2) candidate stream.

    Join 1 (attach sh1, key doc1) is a SHUFFLE_HASH join above the
    candidate shuffle gate — the pair stream is still skinny there, and
    the per-partition hash build parallelizes what a broadcast would
    build single-threaded on the driver. Join 2 (attach sh2, key doc2)
    re-keys rows that already carry their ~450 B sh1 arrays, so a
    shuffle there moves ~15 GB at 500k docs (measured 56 s vs 22-28 s
    total with autoBroadcastJoinThreshold=-1): the index is broadcast
    explicitly while the source corpus is under
    VERIFY_J2_BROADCAST_MAX_SRC_BYTES.

    |A∪B| = |A|+|B|-|A∩B| — the arrays are DISTINCT by construction, so
    the arithmetic union size is exact and skips a second O(|A|+|B|) set
    pass per pair (the r15 rewrite). The threshold filter runs as the
    exact integer comparison where possible (_jaccard_threshold_cond);
    the reported jaccard is the same double division as always.
    """
    d1, d2 = out_cols
    if index2 is None:
        index2, src_bytes2 = index1, src_bytes
    i1 = index1.select(F.col("doc").alias(d1), F.col("sh").alias("sh1"))
    if _use_shuffle_cand(src_bytes):
        i1 = i1.hint("shuffle_hash")
    i2 = index2.select(F.col("doc").alias(d2), F.col("sh").alias("sh2"))
    if (
        src_bytes2 is not None
        and src_bytes2 <= VERIFY_J2_BROADCAST_MAX_SRC_BYTES
    ):
        i2 = F.broadcast(i2)
    # Materialize the intersection size ONCE behind a value-identical
    # non-deterministic guard (spark_partition_id() >= 0 is always
    # true). Left as a plain expression, the threshold Filter and the
    # jaccard Project each evaluate their own array_intersect over the
    # ~450-element arrays (Filter and Project are separate codegen
    # operators with no cross-operator subexpression sharing, and
    # predicate pushdown would re-inline the alias into the filter) —
    # and on this corpus ~100% of candidates pass the filter, so every
    # fully-evaluated row paid the hashset intersection twice
    # (measured: full-dd3 noop 22.2 s vs count 10.2 s warm at 500k
    # docs). The projection also drops the shingle arrays, so the
    # filter+output pipeline carries 4 small columns instead of two
    # ~3.6 KB arrays per row. Same barrier pattern as
    # text._toks_column_barrier.
    n_inter_once = F.when(
        F.spark_partition_id() >= F.lit(0),
        F.size(F.array_intersect("sh1", "sh2")),
    )
    pre = (
        candidates.join(i1, d1)
        .join(i2, d2)
        .select(
            d1,
            d2,
            n_inter_once.alias("__n_inter"),
            (F.size("sh1") + F.size("sh2")).alias("__s12"),
        )
    )
    n_inter, s12 = F.col("__n_inter"), F.col("__s12")
    return pre.filter(_jaccard_threshold_cond(n_inter, s12, threshold)).select(
        d1,
        d2,
        (
            n_inter.cast("double")
            / (s12.cast("double") - n_inter.cast("double"))
        ).alias("jaccard"),
    )


def minhash_lsh_pairs_cross(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n_salts: int | None = None,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Cross-set near-dup pairs: each NEW document against an EXISTING
    corpus — the incremental-ingest dedup ("is this crawl batch already in
    the training set?"). Returns (new_doc, corpus_doc, jaccard) for pairs
    with shingle-Jaccard ≥ threshold.

    Identical banding to ``minhash_lsh_pairs`` (same shingle_k /
    num_hashes / bands ⇒ same buckets), but the candidate join is
    new-bands × corpus-bands instead of a self-join — candidate volume
    scales with the BATCH, not the corpus, and the corpus side never
    re-pairs with itself. Docs present in both inputs (same id) are not
    self-matched. ``n_salts`` salts by the new-side doc id, replicating
    only the corpus-side skinny banded rows — same hot-bucket dial as the
    self-join variant.

    At 100 TB: persist the corpus's banded relation once (it is
    ``bands`` skinny rows per doc) and reuse across batches; the shingle
    verify rejoins only candidate payloads.
    """
    new_bytes = _input_disk_bytes(new)
    new_sh, new_banded = _shingle_and_band(
        new, id_col, text_col, shingle_k, num_hashes, bands,
        sig_mode=_resolve_sig_mode(new_bytes, "auto"),
        shingle_mode=_resolve_shingle_mode(new_bytes, "auto"),
        with_vec=True,
    )
    if corpus_index is not None:
        # Pre-built (shingles, banded) relations — e.g. the persisted
        # index tables build_lsh_index() produces. Skips re-banding the
        # corpus entirely: the per-batch cost becomes banding the BATCH
        # plus one skinny join against the stored bands, independent of
        # corpus size. The index MUST have been built with the same
        # shingle_k/num_hashes/bands. The stored banded schema carries
        # no bucket vector, so the exactly-once emission filter is
        # unavailable — candidates fall back to the dedup aggregate.
        cor_sh, cor_banded = corpus_index
        cor_bytes = _input_disk_bytes(cor_sh)
        once = False
    else:
        cor_bytes = _input_disk_bytes(corpus)
        cor_sh, cor_banded = _shingle_and_band(
            corpus, id_col, text_col, shingle_k, num_hashes, bands,
            sig_mode=_resolve_sig_mode(cor_bytes, "auto"),
            shingle_mode=_resolve_shingle_mode(cor_bytes, "auto"),
            with_vec=True,
        )
        once = True

    shuffle = _use_shuffle_cand(new_bytes) or _use_shuffle_cand(cor_bytes)
    if once:
        candidates = _lsh_candidates_once(
            new_banded, bands, banded_r=cor_banded, n_salts=n_salts,
            shuffle=shuffle, self_join=False,
        ).select(
            F.col("doc1").alias("new_doc"), F.col("doc2").alias("corpus_doc")
        )
    else:
        if n_salts:
            a = new_banded.withColumn(
                "salt", F.pmod(F.xxhash64("doc"), F.lit(n_salts)).cast("int")
            ).alias("a")
            b = cor_banded.withColumn(
                "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
            ).alias("r")
            join_cond = (
                (F.col("a.band") == F.col("r.band"))
                & (F.col("a.bucket") == F.col("r.bucket"))
                & (F.col("a.salt") == F.col("r.salt"))
            )
        else:
            a, b = new_banded.alias("a"), cor_banded.alias("r")
            join_cond = (F.col("a.band") == F.col("r.band")) & (
                F.col("a.bucket") == F.col("r.bucket")
            )
        if shuffle:
            b = b.hint("shuffle_hash")
        candidates = (
            a.join(b, join_cond)
            .filter(F.col("a.doc") != F.col("r.doc"))
            .select(
                F.col("a.doc").alias("new_doc"),
                F.col("r.doc").alias("corpus_doc"),
            )
            .dropDuplicates(["new_doc", "corpus_doc"])
        )
    return _verify_pairs(
        candidates, new_sh, ("new_doc", "corpus_doc"), threshold, new_bytes,
        index2=cor_sh, src_bytes2=cor_bytes,
    )


def dedup_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Rows of ``new`` that are NOT near-duplicates of any corpus doc —
    ``minhash_lsh_pairs_cross`` then a left-anti join on the new id.
    Accepts ``corpus_index=`` (see minhash_lsh_pairs_cross) to reuse a
    persisted banded corpus."""
    dups = minhash_lsh_pairs_cross(
        new, corpus, id_col, text_col, **lsh_kwargs
    ).select(F.col("new_doc").alias(id_col))
    return new.join(dups, id_col, "left_anti")


def build_lsh_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The reusable corpus side of the cross-set near-dup: returns
    (shingles, banded) — ``(doc, sh array<long>)`` and ``(doc, band,
    bucket)`` — suitable for persisting as tables and passing back via
    ``corpus_index=``. This is the 100 TB ingest design: the corpus is
    banded ONCE (and appended to incrementally as batches land), so
    per-batch dedup cost scales with the batch, never the corpus."""
    src_bytes = _input_disk_bytes(corpus)
    return _shingle_and_band(
        corpus, id_col, text_col, shingle_k, num_hashes, bands,
        sig_mode=_resolve_sig_mode(src_bytes, "auto"),
        shingle_mode=_resolve_shingle_mode(src_bytes, "auto"),
    )


# ---------------------------------------------------------------------------
# Decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

def gram_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    distinct: bool = True,
    segment_tokens: int | None = None,
    hashed: bool = False,
) -> DataFrame:
    """DISTINCT ``(doc, g)`` k-gram rows, linear in document length.

    ``hashed=True`` emits ``g`` as the gram's xxhash64 (long) instead of
    the ~50-byte gram string: every downstream shuffle/join/group key
    shrinks ~6x, which is the difference between dd10 finishing and
    filling the disk at the 5M-doc probe (625M gram strings spilled
    >75 GB of shuffle; hashed grams fit). Join/count semantics are
    preserved up to 64-bit collisions (~n^2/2^64).

    Equivalent to ``explode(shingles(text, k))`` but NOT written that way:
    Generate re-evaluates a non-attribute child per OUTPUT row, and
    ``shingles`` is an interpreted higher-order ``transform`` — the
    explode formulation goes O(grams²) per document (measured 10× slower
    on the same corpus). Here the words column explodes as a plain
    attribute and ``lead()`` windows assemble each k-gram in one linear
    pass; short docs (< k tokens) contribute their whole-doc gram, same
    as the shingles fallback arm.

    ``segment_tokens`` is the long-document skew guard: the default
    per-doc window is never split by Spark, so ONE pathological 100 MB
    document serializes its whole window pass through a single task
    (the same failure mode the two-phase sessionizer fixes for hot
    users). With ``segment_tokens=S`` the window keys on
    ``(doc, pos div S)`` — bounded by S rows — and each segment's first
    ``k - 1`` token rows are ALSO emitted into the previous segment so
    boundary-spanning grams still assemble; grams starting in a
    duplicated row are dropped (their home segment produces them), so
    the output is row-identical to the unsegmented plan for any S >= k
    (pinned by a property test). The duplication overhead is
    (k-1)/S per segment — negligible for any sane S.
    """
    from pyspark.sql import Window

    words_df = df.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("words")
    )
    long_docs = words_df.filter(F.size("words") >= k).select(
        "doc", F.posexplode("words").alias("pos", "w")
    )
    if segment_tokens is None:
        wlead = Window.partitionBy("doc").orderBy("pos")
        keyed = long_docs
    else:
        if segment_tokens < k:
            raise ValueError(
                f"gram_rows: segment_tokens ({segment_tokens}) must be >= k ({k})"
            )
        keyed, wlead = segment_window(long_docs, ["doc"], segment_tokens, k - 1)
    long_grams = (
        keyed.select(
            "doc",
            "w",
            *([] if segment_tokens is None else ["__back"]),
            *[F.lead("w", j).over(wlead).alias(f"w{j}") for j in range(1, k)],
        )
        .filter(F.col(f"w{k - 1}").isNotNull())
    )
    if segment_tokens is not None:
        # Grams starting at a duplicated (carried-back) row belong to
        # their home segment, which also produces them — drop the copy.
        long_grams = long_grams.filter(F.col("__back") == 0)
    long_g = F.concat_ws(" ", "w", *[f"w{j}" for j in range(1, k)])
    short_g = F.concat_ws(" ", "words")
    if hashed:
        long_g, short_g = F.xxhash64(long_g), F.xxhash64(short_g)
    long_grams = long_grams.select("doc", long_g.alias("g"))
    short_grams = words_df.filter(F.size("words") < k).select(
        "doc", short_g.alias("g")
    )
    out = long_grams.unionByName(short_grams)
    # distinct=False skips the dedup shuffle — for consumers that fold the
    # per-doc dedup into their own aggregation (countDistinct).
    return out.distinct() if distinct else out


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str = "text",
    ngram_k: int = 13,
    segment_tokens: int | None = None,
) -> DataFrame:
    """Training docs sharing at least one k-gram with the eval corpus — the
    standard benchmark-decontamination sweep (flag, then drop, train docs
    that leak eval content). Returns (doc_id, n_shared_grams, n_grams).

    Scale design: eval benchmarks are tiny next to training corpora, so the
    eval gram set is broadcast and the train side never shuffles — the scan
    streams grams against a broadcast hash set. Short docs (< k tokens)
    hash as a single whole-doc gram, so verbatim short-doc leaks are still
    caught.
    """
    # fan_out: a single-file parquet source reads as ONE partition, which
    # would serialize the per-row token work onto one core. gram_rows is
    # the linear (posexplode + lead) k-gram formulation — see its
    # docstring for why explode(shingles(...)) is avoided.
    # segment_tokens: forward the long-document window-skew guard (see
    # gram_rows) — pathological giant train docs stop serializing one task.
    train_grams = gram_rows(
        fan_out(train),
        id_col,
        text_col,
        ngram_k,
        distinct=False,
        segment_tokens=segment_tokens,
    )
    eval_grams = (
        gram_rows(fan_out(eval_set), id_col, text_col, ngram_k)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # ONE shuffle: left-join every train gram occurrence against the
    # broadcast eval set, then count DISTINCT grams (total and matched) in
    # the same per-doc aggregation — the per-doc dedup that shingles'
    # array_distinct used to do rides the groupBy's map-side partials
    # instead of a separate distinct shuffle.
    return (
        train_grams.join(F.broadcast(eval_grams), "g", "left")
        .groupBy("doc")
        .agg(
            F.countDistinct(F.when(F.col("hit") == 1, F.col("g")))
            .cast("long")
            .alias("n_shared_grams"),
            F.countDistinct("g").cast("long").alias("n_grams"),
        )
        .filter(F.col("n_shared_grams") > 0)
        .select(
            F.col("doc").alias("doc_id"), "n_shared_grams", "n_grams"
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def portable_token_hash(t: Column) -> Column:
    """60-bit token hash computable identically in Spark and DuckDB:
    the first 15 hex digits of md5, parsed as an integer (Spark:
    ``conv(substr(md5(x),1,15),16,10)``; DuckDB:
    ``('0x'||substr(md5(x),1,15))::BIGINT`` — verified value-identical).
    The round-7 portable-hash rule (md5 ports across engines, xxhash64
    does not) extended from string bucket keys to numeric bit patterns."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_votes(
    col: Column | str, bits: int = 63, hash_fn=None
) -> Column:
    """Per-bit SimHash vote vector: ONE fold over the token hashes maintains
    all ``bits`` counters — each step zips the accumulator with the bit
    positions and adds ±1 per slot. (The naive per-bit formulation re-scans
    the token array ``bits`` times — 63 interpreted passes instead of one.)

    ``hash_fn`` supplies the per-token hash (default xxhash64 — fastest,
    JVM built-in; pass ``portable_token_hash`` with ``bits<=60`` for the
    cross-engine-reproducible signature the exact-regime oracle needs).
    """
    toks = tokens(col)
    hfn = hash_fn or F.xxhash64
    hashes = F.transform(toks, lambda t: hfn(t))
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            positions,
            lambda a, i: a
            + F.when(F.bit_get(h, i) == 1, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
        ),
    )


def simhash_from_votes(votes: Column, bits: int = 63) -> Column:
    """Collapse a vote vector to the 63-bit signature (set bit i iff votes[i]
    is positive). MUST be applied to a *materialized* votes column — the fold
    is a codegen-fallback expression, and referencing it ``bits`` times in
    one projection would re-evaluate it per bit."""
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.element_at(votes, i + 1) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def simhash(col: Column | str, bits: int = 63) -> Column:
    """SimHash signature (63-bit, sign-safe): per token, xxhash64 supplies
    the bit pattern; each bit position accumulates +1/-1 votes weighted by
    token multiplicity; the signature sets bits with positive vote sums.

    Single-expression convenience form; prefer the two-step
    ``simhash_votes`` → ``simhash_from_votes`` in pipelines (see
    ``simhash_from_votes`` for why).
    """
    return simhash_from_votes(simhash_votes(col, bits), bits)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 63-bit signature into 4 chunks
    (pigeonhole: ≤3-bit distance guarantees a shared chunk; wider distances
    are found probabilistically), bucket-join, verify Hamming distance.
    """
    sigs = (
        _non_blank(fan_out(df), text_col)
        .select(F.col(id_col).alias("doc"), simhash_votes(text_col).alias("__votes"))
        .select("doc", simhash_from_votes(F.col("__votes")).alias("sig"))
    )
    chunks = sigs.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    a, b = chunks.alias("a"), chunks.alias("r")
    return (
        a.join(b, (F.col("a.chunk") == F.col("r.chunk")) & (F.col("a.key") == F.col("r.key")))
        .filter(F.col("a.doc") < F.col("r.doc"))
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("r.doc").alias("doc2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        # Hamming filter BEFORE the pair dedup: chunk collisions are
        # ~n²/2^16 (at the 5M-doc probe, ~760M candidate rows), and
        # deduplicating that stream OOMed the hash-agg buffers; the filter
        # is a streamed codegen projection that cuts the dedup input to
        # the true near-dup volume (~1000x here). Same result set —
        # hamming is pair-intrinsic. Past ~50M docs the 16-bit chunk key
        # space itself saturates; that regime needs permuted-prefix
        # multi-index banding (wider keys), not a bigger shuffle.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc1", "doc2"])
    )


def simhash_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 8,
    bits: int = 60,
) -> DataFrame:
    """``simhash_pairs`` in its PROVABLY exact regime, oracle-checkable.

    Two deviations from the probabilistic operator, each buying a proof:

    - **Pigeonhole banding**: the signature is partitioned into
      ``max_hamming + 1`` disjoint chunks (not 4 fixed 16-bit ones). A
      pair within Hamming distance ``max_hamming`` differs in at most
      ``max_hamming`` chunks, so at least one chunk is bit-identical →
      every qualifying pair is a candidate (recall exactly 1.0, no
      "probabilistically found" remainder). The Hamming verify then makes
      precision 1.0, so the output EQUALS the brute-force all-pairs
      xor/bit_count answer.
    - **Portable signature**: per-token hashes come from
      ``portable_token_hash`` (md5-derived, engine-portable), so a DuckDB
      oracle can rebuild the very same signatures and brute-force the
      pair set in SQL — the sibling pattern that made f5b/sim3b/sim2b
      hash-checkable.

    Same scale shape as ``simhash_pairs`` (skinny (doc, chunk, key)
    shuffle, Hamming filter before pair dedup); the chunk count rises
    with ``max_hamming``, trading shuffle rows for guaranteed recall.
    """
    if not 0 <= max_hamming < bits:
        raise ValueError(
            f"simhash_pairs_exact: need 0 <= max_hamming < bits, got "
            f"{max_hamming}/{bits}"
        )
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    widths = [base + 1 if i < extra else base for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    sigs = (
        _non_blank(fan_out(df), text_col)
        .select(
            F.col(id_col).alias("doc"),
            simhash_votes(
                text_col, bits=bits, hash_fn=portable_token_hash
            ).alias("__votes"),
        )
        .select(
            "doc", simhash_from_votes(F.col("__votes"), bits=bits).alias("sig")
        )
    )
    chunks = sigs.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", offsets[c])
                        .bitwiseAND(F.lit((1 << widths[c]) - 1))
                        .alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(
        "doc", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key")
    )
    a, b = chunks.alias("a"), chunks.alias("r")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("r.chunk"))
            & (F.col("a.key") == F.col("r.key")),
        )
        .filter(F.col("a.doc") < F.col("r.doc"))
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("r.doc").alias("doc2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc1", "doc2"])
    )


def exact_substring_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_docs: int = 8,
    segment_tokens: int | None = None,
) -> DataFrame:
    """Corpus-internal exact-substring duplication: doc pairs sharing at
    least one verbatim k-token window, with the count of shared windows —
    the exact-match complement of MinHash/SimHash near-dup (the
    "duplicated training spans" sweep). Returns
    (doc_a, doc_b, n_shared_windows), doc_a < doc_b.

    ``max_gram_docs`` is the boilerplate guard: a window occurring in more
    than that many documents (licenses, navigation chrome) is dropped
    BEFORE pair generation, which caps per-window fan-out at
    C(max_gram_docs, 2) pairs and makes the self-join skew-proof by
    construction — the standard frequency-capped inverted-index shape. A
    window in exactly [2, max_gram_docs] docs emits its pairs.

    Scale shape (100 TB): windows are linear per doc (gram_rows' posexplode
    + lead formulation) and the gram pipeline is computed exactly TWICE —
    once for the doc-frequency pass (map-side partial aggs, so boilerplate
    grams never concentrate) and once for the candidate join (AQE
    broadcasts the eligible-gram set when it fits). Pairs come from a
    per-gram ``collect_list`` + in-place combination expansion, NOT a
    candidate self-join: the lists are post-filter, hence bounded at
    ``max_gram_docs`` elements, the groupBy is co-partitioned with the
    join's gram key, and the per-pair rollup is partial-agg. The payload
    (text) never rides any shuffle — only (doc, gram) rows do.
    """
    if k < 2:
        raise ValueError(f"exact_substring_pairs: k must be >= 2, got {k}")
    if max_gram_docs < 2:
        raise ValueError(
            f"exact_substring_pairs: max_gram_docs must be >= 2, got {max_gram_docs}"
        )
    grams = gram_rows(
        fan_out(docs), id_col, text_col, k, segment_tokens=segment_tokens,
        hashed=True,
    )
    eligible = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_gram_docs))
        .select("g")
    )
    per_gram = (
        grams.join(eligible, "g")
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("doc")).alias("__ds"))
    )
    # Ordered pairs from each bounded doc list: posexplode anchors doc_a,
    # slice takes everything after it as doc_b (arrays are <= cap long, so
    # the quadratic Generate re-evaluation over slice() is negligible).
    return (
        per_gram.select(F.posexplode("__ds").alias("__i", "doc_a"), "__ds")
        .select(
            "doc_a",
            F.explode(
                F.slice("__ds", F.col("__i") + 2, max_gram_docs)
            ).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_windows"))
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 0,
    sep_regex: str = r"\n{2,}",
    join_sep: str = " ",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide duplicated-span REMOVAL — the RefinedWeb / MassiveText
    line-and-paragraph dedup step (keep each distinct span's first
    occurrence, cut every later copy, rebuild the documents): unlike
    exact-substring PAIR detection (``exact_substring_pairs``), this
    rewrites the corpus, which is what a pretraining pipeline actually
    applies before training.

    Span unit: paragraphs split on ``sep_regex`` (default blank lines),
    or — for single-line corpora — fixed non-overlapping windows of
    ``span_tokens`` whitespace tokens when ``span_tokens > 0`` (the
    paragraph filter ``min_chars`` is bypassed in token mode: windows of
    a non-empty token stream are never blank, and the empty-text edge
    must stay engine-comparable).

    First-occurrence winner: lowest ``(id, pos)`` per distinct span text
    — deterministic, engine-neutral.

    Returns one row per input document: ``(id, n_spans, n_kept,
    clean_text)`` with ``clean_text`` the surviving spans joined by
    ``join_sep`` in original order ('' when every span was cut).

    Scale shape: one explode; ONE corpus-text shuffle for the
    first-occurrence window, keyed on the span md5 (the span text rides
    its own row — no second join to re-attach payloads); one per-doc
    regroup for the rebuild. Identical twins collapse under the md5 key
    with a streaming row_number (no buffering beyond the frame), and the
    rebuild is keyed on the document id, so skew is bounded by the
    hottest single document, not the hottest span.
    """
    spans: DataFrame
    if span_tokens > 0:
        k = int(span_tokens)
        base = docs.select(
            F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks")
        ).withColumn(
            "__n", F.ceil(F.size("__toks") / F.lit(float(k))).cast("int")
        )
        # Guard __n > 0: for NULL text size(__toks) is -1 so __n = 0, and
        # sequence(0, -1) yields the DESCENDING [0, -1] — two phantom
        # empty spans that would enter global dedup (the SQL oracle's
        # range(0, 0) yields none). Empty/NULL docs contribute no spans.
        spans = base.select(
            "__id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN __n > 0 THEN transform(sequence(0, __n - 1),"
                    f" i -> concat_ws(' ', slice(__toks, i * {k} + 1, {k})))"
                    f" ELSE CAST(array() AS array<string>) END"
                )
            ).alias("__pos", "__span"),
        )
    else:
        spans = (
            docs.select(
                F.col(id_col).alias("__id"),
                F.posexplode(F.split(F.col(text_col), sep_regex)).alias(
                    "__pos", "__span"
                ),
            )
            .withColumn("__span", F.trim("__span"))
            .filter(F.length("__span") >= min_chars)
        )

    w = Window.partitionBy(F.md5("__span")).orderBy("__id", "__pos")
    kept = (
        spans.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    totals = spans.groupBy("__id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans")
    )
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.concat_ws(
            join_sep,
            F.expr(
                "transform(array_sort(collect_list(struct(__pos, __span))),"
                " s -> s.__span)"
            ),
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(totals, "__id", "left")
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
