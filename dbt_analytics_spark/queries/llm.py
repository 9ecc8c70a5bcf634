"""Training-data-pipeline queries (dedup / similarity / text analysis /
multimodal) over the `documents` and `embeddings` testdata tables.

Oracle notes: everything except MinHash/SimHash/LSH/mapInPandas is
SQL-expressible in DuckDB with bit-identical arithmetic (integer-derived
double divisions; sequential-fold dot products on both sides). The hash-
sketch operators depend on Spark's xxhash64 and Arrow plumbing, so they get
rows-only checks (deterministic row sets, no oracle SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity
from ..operators.text import (
    BPE_PATTERN,
    STOPWORDS,
    bm25_topk,
    bpe_tokens,
    exact_fingerprint,
    fingerprint,
    langid_columns,
    quality_columns,
    tokens,
)
from ..sources import load_testdata

#: SQL fragment: whitespace-normalized text (matches operators.text.tokens).
_NORM = "TRIM(regexp_replace(text, '\\s+', ' ', 'g'))"
_SPLIT = f"string_split({_NORM}, ' ')"


# ---------------------------------------------------------------------------
# DD1 — exact dedup (hash groupBy on normalized-content fingerprint)
# ---------------------------------------------------------------------------

def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


DD1_SQL = f"""
SELECT md5(LOWER({_NORM})) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# DD2 — word-set Jaccard near-dup pairs via inverted-index join
# (sampled to doc_id % 20 = 0 for the oracle; the full-scale path is the
#  MinHash-LSH operator below)
# ---------------------------------------------------------------------------

def dd2_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"].filter(F.col("doc_id") % 20 == 0)
    return dedup.jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.8
    ).select(
        "doc1",
        "doc2",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("size1").cast("long").alias("size1"),
        F.col("size2").cast("long").alias("size2"),
        "jaccard",
    )


DD2_SQL = f"""
WITH sample AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 20 = 0
), words AS (
  SELECT DISTINCT doc_id, lang, w.word AS w
  FROM sample, UNNEST({_SPLIT}) AS w(word)
  WHERE w.word != ''
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc1, r.doc_id AS doc2, COUNT(*) AS n_common
  FROM words a JOIN words r ON a.w = r.w AND a.lang = r.lang AND a.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, CAST(n_common AS BIGINT) AS n_common,
       CAST(s1.set_size AS BIGINT) AS size1, CAST(s2.set_size AS BIGINT) AS size2,
       CAST(n_common AS DOUBLE) / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE CAST(n_common AS DOUBLE) / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) >= 0.8
"""


# ---------------------------------------------------------------------------
# DD3 — MinHash + LSH near-dup (rows-only: depends on Spark xxhash64)
# ---------------------------------------------------------------------------

def dd3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_k=3, num_hashes=32, bands=8, threshold=0.5
    )


# ---------------------------------------------------------------------------
# DD4 — SimHash near-dup (rows-only: depends on Spark xxhash64)
# ---------------------------------------------------------------------------

def dd9_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dup: even-id docs as the NEW batch, odd-id
    docs as the EXISTING corpus (operators/dedup.py:
    minhash_lsh_pairs_cross). Rows-only like dd3 (banding depends on
    xxhash64); equivalence with the self-join restriction is pinned in
    tests/test_dedup_crosscheck.py."""
    docs = load_testdata(spark, sf_dir)["documents"]
    new = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.minhash_lsh_pairs_cross(
        new, corpus, "doc_id", "text", threshold=0.4
    )


def dd4_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8)


# ---------------------------------------------------------------------------
# DD3B / DD9B / DD4B — the near-dup sketch operators in their PROVABLY
# exact regimes (VERDICT r8 item 4: finish the exact-regime sibling set).
#
# The natural corpus has no exact duplicates (verified per-sf), so each
# sibling unions the documents table with an id-offset clone set — the
# regime stays non-vacuous AND the expected answer is computed by the
# oracle, not assumed.
#
# dd3b/dd9b exactness: at threshold=1.0, a qualifying pair has identical
# shingle SETS, hence identical minhash signatures (min over the same
# set), hence identical band buckets in EVERY band — banding recall is
# exactly 1.0, not probabilistic; the in-plan Jaccard verify then gives
# precision 1.0. So the output equals the brute-force shingle-set Jaccard
# pair set, which the DuckDB oracle computes from scratch in SQL.
# ---------------------------------------------------------------------------

_CLONE_OFFSET = 1_000_000

# k=3 word shingles in SQL, mirroring operators/dedup.py shingles():
# >= 3 tokens -> distinct sliding 3-grams; shorter docs -> one whole-doc
# shingle. (Same list-comprehension pattern as the dd6 gram SQL.)
_SH3_SQL = """
  sh AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                    FOR i IN range(1, len(toks) - 1)])
                ELSE [array_to_string(toks, ' ')]
           END AS sh
    FROM toks
  ),
  shw AS (SELECT DISTINCT doc_id, s.s AS s FROM sh, UNNEST(sh.sh) AS s(s)),
  ssz AS (SELECT doc_id, COUNT(*) AS set_size FROM shw GROUP BY 1)
"""


def dd3b_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "text")
    clones = docs.select(
        (F.col("doc_id") + _CLONE_OFFSET).alias("doc_id"), "text"
    )
    return dedup.minhash_lsh_pairs(
        docs.unionByName(clones),
        "doc_id",
        "text",
        shingle_k=3,
        num_hashes=32,
        bands=8,
        threshold=1.0,
    )


DD3B_SQL = f"""
WITH both_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_OFFSET} AS doc_id, text FROM documents
), toks AS (
  SELECT doc_id, {_SPLIT} AS toks FROM both_docs WHERE TRIM(text) <> ''
),
{_SH3_SQL},
inter AS (
  SELECT a.doc_id AS doc1, r.doc_id AS doc2, COUNT(*) AS n_common
  FROM shw a JOIN shw r ON a.s = r.s AND a.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       CAST(n_common AS DOUBLE)
         / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN ssz s1 ON s1.doc_id = doc1
JOIN ssz s2 ON s2.doc_id = doc2
WHERE n_common = s1.set_size AND n_common = s2.set_size
"""


def dd9b_cross_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd9's cross-corpus banding (minhash_lsh_pairs_cross) in the exact
    regime: the clone set as the NEW batch against the natural corpus —
    every new doc has exactly one J=1.0 corpus partner, found with
    provably-1.0 banding recall (see dd3b block comment)."""
    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "text")
    clones = docs.select(
        (F.col("doc_id") + _CLONE_OFFSET).alias("doc_id"), "text"
    )
    return dedup.minhash_lsh_pairs_cross(
        clones, docs, "doc_id", "text", threshold=1.0
    )


DD9B_SQL = f"""
WITH toks_new AS (
  SELECT doc_id + {_CLONE_OFFSET} AS doc_id, {_SPLIT} AS toks
  FROM documents WHERE TRIM(text) <> ''
), toks_cor AS (
  SELECT doc_id, {_SPLIT} AS toks FROM documents WHERE TRIM(text) <> ''
), toks AS (
  SELECT * FROM toks_new UNION ALL SELECT * FROM toks_cor
),
{_SH3_SQL},
inter AS (
  SELECT a.doc_id AS new_doc, r.doc_id AS corpus_doc, COUNT(*) AS n_common
  FROM shw a JOIN shw r ON a.s = r.s
  WHERE a.doc_id >= {_CLONE_OFFSET} AND r.doc_id < {_CLONE_OFFSET}
  GROUP BY 1, 2
)
SELECT new_doc, corpus_doc,
       CAST(n_common AS DOUBLE)
         / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN ssz s1 ON s1.doc_id = new_doc
JOIN ssz s2 ON s2.doc_id = corpus_doc
WHERE n_common = s1.set_size AND n_common = s2.set_size
"""


def dd4b_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd4's SimHash machinery in its provably exact regime
    (operators/dedup.py simhash_pairs_exact): pigeonhole banding into
    max_hamming+1 chunks (recall exactly 1.0 for Hamming <= 8) over a
    PORTABLE md5-derived 60-bit signature the DuckDB oracle rebuilds
    bit-for-bit, then brute-forces with xor/bit_count."""
    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "text")
    clones = docs.select(
        (F.col("doc_id") + _CLONE_OFFSET).alias("doc_id"), "text"
    )
    return dedup.simhash_pairs_exact(
        docs.unionByName(clones), "doc_id", "text", max_hamming=8, bits=60
    ).select("doc1", "doc2", F.col("hamming").cast("int").alias("hamming"))


DD4B_SQL = f"""
WITH both_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_OFFSET} AS doc_id, text FROM documents
), tok AS (
  SELECT doc_id, unnest({_SPLIT}) AS t FROM both_docs WHERE TRIM(text) <> ''
), th AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
), votes AS (
  SELECT doc_id, b.i AS i,
         SUM(CASE WHEN (h >> CAST(b.i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS i) b
  GROUP BY 1, 2
), sigs AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS doc1, r.doc_id AS doc2,
       CAST(bit_count(xor(a.sig, r.sig)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs r ON a.doc_id < r.doc_id
WHERE bit_count(xor(a.sig, r.sig)) <= 8
"""


# ---------------------------------------------------------------------------
# DD5 — embedding-cosine near-dup: nearest neighbor per sampled vector +
# duplicate-threshold flag (exact baseline; sim2's LSH buckets are the
# 100 TB path for the same semantics)
# ---------------------------------------------------------------------------

def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    sample = emb.filter(F.col("vec_id") % 5 == 0)
    nn = similarity.cosine_topk(emb, sample, "vec_id", "embedding", k=1)
    return nn.select(
        F.col("query_id").alias("vec_id"),
        F.col("corpus_id").alias("nearest_id"),
        "cosine_sim",
        (F.col("cosine_sim") >= 0.5).alias("is_near_dup"),
    )


DD5_SQL = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM c WHERE vec_id % 5 = 0
), scored AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS nearest_id,
         list_inner_product(q.v, c.v)
           / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine_sim
  FROM q JOIN c ON c.vec_id != q.vec_id
)
SELECT vec_id, nearest_id, cosine_sim, cosine_sim >= 0.5 AS is_near_dup
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine_sim DESC, nearest_id ASC) AS rnk
  FROM scored
) WHERE rnk = 1
"""


# ---------------------------------------------------------------------------
# SIM1 — brute-force cosine top-k (exact ANN baseline)
# ---------------------------------------------------------------------------

def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=3)


SIM1_SQL = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM c WHERE vec_id < 20
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         list_inner_product(q.v, c.v)
           / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine_sim
  FROM q JOIN c ON c.vec_id != q.vec_id
)
SELECT query_id, corpus_id, cosine_sim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# SIM2 — LSH-bucketed approximate top-k (rows-only; recall measured in tests
# against SIM1)
# ---------------------------------------------------------------------------

def sim2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.lsh_bucket_topk(emb, queries, "vec_id", "embedding", k=3)


# ---------------------------------------------------------------------------
# SIM3 — IVF-bucketed approximate top-k (rows-only; recall measured in tests
# against SIM1). Production lifecycle: kmeans_fit once, persist via
# similarity.save_centroids/load_centroids, then ivf_topk(centroids=...)
# skips training entirely (round-trip equality:
# tests/test_similarity_skew.py::test_ann_model_persistence_roundtrip).
# ---------------------------------------------------------------------------

def sim3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=3, n_cells=16, n_probe=4
    )


# ---------------------------------------------------------------------------
# SIM3B — IVF in its EXACT regime (the f5b/sim5b pattern): probing ALL
# cells makes the inverted-file search equal to exact cosine top-k, so
# the entire IVF machinery — centroid sampling, cell assignment, probe
# masking, per-batch top-k, global merge — gets a hash-green check
# against SIM1's plain SQL oracle instead of rows-only + recall tests.
# ---------------------------------------------------------------------------

def sim3b_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    out = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=3, n_cells=16, n_probe=16
    )
    # IVF deliberately scores with normalize-then-BLAS-matmul (the fast
    # path — sim1 pays a d-loop for bit-exact oracle floats), so the sims
    # differ from DuckDB's list_inner_product in the last ~2 bits. Report
    # them under the rounded-score convention; ranking stays on the
    # unrounded values (per-engine gaps ~1e-16 vs rank gaps ~1e-2 here).
    return out.select(
        "query_id",
        "corpus_id",
        F.round("cosine_sim", 6).alias("cosine_sim_r"),
        "rank",
    )


# ---------------------------------------------------------------------------
# SIM2B — hyperplane LSH in its EXACT regime (the sim3b pattern): zero
# cutting planes ⇒ every vector lands in one bucket ⇒ the bucket search
# IS brute force, so the whole LSH machinery — signature matmul, bucket
# join, pair dedup, fold-cosine rerank, top-k window — hash-checks
# against the plain SQL oracle. The fold cosine is bit-exact vs DuckDB's
# list_inner_product (the sim1 contract), so no rounding is needed.
# ---------------------------------------------------------------------------

def sim2b_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.lsh_bucket_topk(
        emb, queries, "vec_id", "embedding", k=3, num_planes=0, num_tables=1
    )


SIM2B_SQL = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM c WHERE vec_id < 20
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         list_inner_product(q.v, c.v)
           / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine_sim
  FROM q JOIN c ON c.vec_id != q.vec_id
)
SELECT query_id, corpus_id, cosine_sim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


SIM3B_SQL = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM c WHERE vec_id < 20
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         list_inner_product(q.v, c.v)
           / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine_sim
  FROM q JOIN c ON c.vec_id != q.vec_id
)
SELECT query_id, corpus_id, round(cosine_sim, 6) AS cosine_sim_r, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# SIM6 — the PERSISTENT IVF index (ivf_insert incremental strategy,
# plans/materialize.py) in its exact regime: the index bootstraps from
# half the corpus, the other half arrives as an incremental batch
# (assigned to the PINNED centroids and appended into the
# cell-partitioned table), and the probe reads the stored partitions
# with n_probe = n_cells — all cells probed ⇒ identical to brute force,
# so the whole bootstrap→insert→partition-pruned-probe pipeline
# hash-checks against the plain SQL oracle (sim3b's). The driver row
# therefore certifies index MAINTENANCE, not just search.
# ---------------------------------------------------------------------------

def sim6_ivf_index_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..plans import Project
    from ..plans.ingest import companions
    from ..plans.star_layout import _tag, _warehouse_path

    emb = load_testdata(spark, sf_dir)["embeddings"]
    name = f"ivf_index_{_tag(sf_dir)}_v1"
    cent_tbl = f"{name}__ivf_centroids"
    if not spark.catalog.tableExists(name):
        # Warehouse files may survive a previous session whose in-memory
        # catalog is gone; a partitioned managed table cannot re-register
        # over them (and rebuilding at driver scale is seconds) — clear
        # and rebuild.
        for t in (name, *companions(name, "ivf_insert")):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(_warehouse_path(spark, t), ignore_errors=True)
        state = {"df": emb.filter(F.col("vec_id") % 2 == 0)}
        p = Project(spark, name="sim6")

        @p.model(
            materialized="incremental",
            incremental_strategy="ivf_insert",
            unique_key="vec_id",
            ivf_kwargs={"n_cells": 16, "kmeans_iters": 2},
            name=name,
        )
        def _node(ctx):
            return state["df"]

        p.run(select=name)  # bootstrap: train + write even half
        state["df"] = emb.filter(F.col("vec_id") % 2 == 1)
        p2 = Project(spark, name="sim6")
        p2.nodes = p.nodes
        p2.run(select=name)  # incremental: odd half against pinned cells

    import numpy as np

    C = np.asarray(
        [
            list(r["centroid"])
            for r in spark.table(cent_tbl).orderBy("cell").collect()
        ]
    )
    queries = emb.filter(F.col("vec_id") < 20)
    out = similarity.ivf_index_topk(
        spark.table(name).drop("label"), queries, C, k=3, n_probe=16
    )
    # Rounded-score convention — same rationale as sim3b (IVF scores via
    # normalize-then-BLAS; ranking stays on unrounded values).
    return out.select(
        "query_id",
        "corpus_id",
        F.round("cosine_sim", 6).alias("cosine_sim_r"),
        "rank",
    )


# ---------------------------------------------------------------------------
# SIM4 — product-quantization ADC top-k with exact re-rank (rows-only;
# recall measured in tests against SIM1). The 100 TB memory-bound path:
# pq_encode compresses 256 B float vectors to 8 one-byte codes. Production
# lifecycle: pq_fit once, persist via similarity.save_codebooks/
# load_codebooks, then pq_topk(codebooks=...) skips training (round-trip
# equality: tests/test_similarity_skew.py::test_ann_model_persistence_roundtrip).
# ---------------------------------------------------------------------------

def sim4_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.pq_topk(
        emb, queries, "vec_id", "embedding",
        k=3, n_subspaces=8, n_codes=16, kmeans_iters=3, refine=8,
    )


# ---------------------------------------------------------------------------
# SIM4B — product quantization in its EXACT regime (the sim3b pattern):
# ``refine`` large enough that the ADC candidate cut covers every corpus
# row in a batch, so the quantized preselection no longer prunes anything
# and the exact-cosine re-rank reproduces brute-force top-k regardless of
# codebook quality. This hash-checks the ENTIRE PQ pipeline — codebook
# training (Lloyd partials over mapInPandas), per-row encoding, the
# per-query ADC lookup tables, candidate selection, exact re-rank, and
# the global top-k merge window — against SIM1's plain SQL oracle; only
# the *pruning effect* of quantization is disabled, exactly as sim3b
# probes all IVF cells and sim2b uses zero cutting planes. Re-rank
# scores come from normalize-then-BLAS-matmul (the fast path), so like
# sim3b they are reported under the rounded-score convention while
# ranking stays on the unrounded values.
# ---------------------------------------------------------------------------

def sim4b_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    out = similarity.pq_topk(
        emb, queries, "vec_id", "embedding",
        k=3, n_subspaces=8, n_codes=16, kmeans_iters=1, refine=10_000_000,
    )
    return out.select(
        "query_id",
        "corpus_id",
        F.round("cosine_sim", 6).alias("cosine_sim_r"),
        "rank",
    )


SIM4B_SQL = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM c WHERE vec_id < 20
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         list_inner_product(q.v, c.v)
           / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine_sim
  FROM q JOIN c ON c.vec_id != q.vec_id
)
SELECT query_id, corpus_id, round(cosine_sim, 6) AS cosine_sim_r, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# DD12 — duplicated-span REMOVAL (RefinedWeb/MassiveText paragraph dedup,
# token-window unit for this single-line corpus): every 12-token span that
# repeats anywhere in the corpus keeps only its first (doc, pos)
# occurrence; documents are rebuilt from their surviving spans. The
# corpus-rewrite sibling of dd10's pair DETECTION. Fully SQL-expressible
# → exact oracle.
# ---------------------------------------------------------------------------

def dd12_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return dedup.span_dedup(docs, "doc_id", "text", span_tokens=12)


DD12_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SPLIT} AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
         CAST(ceil(len(toks) / 12.0) AS BIGINT) AS n_chunks
  FROM t
), spans AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         array_to_string(toks[i * 12 + 1 : i * 12 + 12], ' ') AS span
  FROM s, UNNEST(range(0, n_chunks)) AS g(i)
), flagged AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY md5(span) ORDER BY doc_id, pos
  ) AS rn
  FROM spans
)
SELECT d.doc_id,
       CAST(COALESCE(tt.n_spans, 0) AS INTEGER) AS n_spans,
       CAST(COALESCE(k.n_kept, 0) AS INTEGER) AS n_kept,
       COALESCE(k.clean_text, '') AS clean_text
FROM documents d
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
) tt ON d.doc_id = tt.doc_id
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(span, ' ' ORDER BY pos) AS clean_text
  FROM flagged WHERE rn = 1 GROUP BY doc_id
) k ON d.doc_id = k.doc_id
"""


# ---------------------------------------------------------------------------
# TXT1 — token statistics per language
# ---------------------------------------------------------------------------

def txt1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    toks = tokens(F.col("text"))
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum("n_uniq").alias("sum_uniq_tokens"),
    )


TXT1_SQL = f"""
WITH per_doc AS (
  SELECT lang, len({_SPLIT}) AS n_tok, len(list_distinct({_SPLIT})) AS n_uniq
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(n_uniq) AS BIGINT) AS sum_uniq_tokens
FROM per_doc GROUP BY lang
"""


# ---------------------------------------------------------------------------
# TXT2 — per-document quality scoring
# ---------------------------------------------------------------------------

def txt2_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "text")
    return quality_columns(docs, "text").drop("text")


_STOP_SQL = ",".join(f"'{w}'" for w in STOPWORDS)

TXT2_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SPLIT} AS toks, LENGTH({_NORM}) AS n_chars FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_uniq_tokens,
         len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS n_stop, n_chars
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_uniq_tokens AS INTEGER) AS n_uniq_tokens,
       CASE WHEN n_tokens > 0 THEN CAST(n_uniq_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS type_token_ratio,
       CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
       CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_token_len,
       (n_tokens >= 10
        AND (CASE WHEN n_tokens > 0 THEN CAST(n_uniq_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) >= 0.1
        AND (CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) >= 2.0
        AND (CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) <= 12.0
       ) AS keep_quality
FROM m
"""


# ---------------------------------------------------------------------------
# TXT3 — heuristic language ID (marker-word density argmax)
# ---------------------------------------------------------------------------

def txt3_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    return langid_columns(docs, "text").drop("text")


def _langid_sql() -> str:
    from ..operators.text import LANG_MARKERS

    score_cols = []
    for lang in sorted(LANG_MARKERS):
        in_list = ",".join(f"'{w}'" for w in LANG_MARKERS[lang])
        score_cols.append(f"len(list_filter(toks, x -> x IN ({in_list}))) AS s_{lang}")
    langs = sorted(LANG_MARKERS)
    greatest = f"GREATEST({', '.join('s_' + l for l in langs)})"
    pred_arms = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_SPLIT} AS toks FROM documents
), s AS (
  SELECT doc_id, lang, len(toks) AS n_tok, {', '.join(score_cols)} FROM t
), b AS (
  SELECT *, {greatest} AS best FROM s
)
SELECT doc_id, lang,
       CASE WHEN best = 0 THEN 'und' {pred_arms} END AS pred_lang,
       CAST(best AS INTEGER) AS marker_hits,
       CASE WHEN n_tok > 0 THEN CAST(best AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS marker_density
FROM b
"""


# ---------------------------------------------------------------------------
# TXT4 — document fingerprinting (exact + order-insensitive)
# ---------------------------------------------------------------------------

def txt4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        exact_fingerprint("text").alias("exact_fp"),
        fingerprint("text").alias("sorted_token_fp"),
    )


TXT4_SQL = f"""
SELECT doc_id,
       md5(LOWER({_NORM})) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct({_SPLIT})), ' ')) AS sorted_token_fp
FROM documents
"""


# ---------------------------------------------------------------------------
# MM1 — multimodal binary-column plumbing (mapInPandas decode). Fully
# DuckDB-oracled: n_bytes/checksum are byte arithmetic over encode(text),
# and the fallback features are (slice-byte-sum % 997)/997 — emitting the
# integer numerators (exactly recoverable from the float32: |f32 error|
# * 997 < 0.5) makes every column hash-checkable cross-engine.
# ---------------------------------------------------------------------------

def mm1_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    binary = multimodal.with_binary_payload(docs, "text")
    feats = multimodal.extract_features(binary)
    # Driver-facing projection: expand the array<float> feature column into
    # scalar columns — the driver canonicalizes results through pandas
    # sort_values, which cannot order list-typed cells (CORRECTNESS_r03
    # recorded "unhashable type: 'list'" for this query).  The operator
    # itself still returns the float array; this catalog entry recovers the
    # exact integer basis of each fallback feature so the DuckDB oracle can
    # reproduce it without float-bit drift.
    return feats.select(
        "doc_id",
        "n_bytes",
        "checksum",
        *[
            F.round(F.col("feature")[i] * 997)
            .cast("int")
            .alias(f"f{i}_x997")
            for i in range(multimodal.FEATURE_DIM)
        ],
    )


#: The oracle replays the non-PPM fallback path (the testdata payloads are
#: UTF-8 text bytes, never valid P6 PPM): bytes via hex() 2-char slices,
#: checksum = total byte-sum % 2^31, f{i} numerator = slice byte-sum % 997
#: over slice [i*step, (i+1)*step) with step = max(n_bytes//4, 1) —
#: mirroring operators/multimodal.py:_fake_decode_features.
MM1_SQL = """
WITH h AS (
  SELECT doc_id,
         octet_length(encode(text)) AS nb,
         hex(encode(text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, nb,
         greatest(nb // 4, 1) AS step,
         [('0x' || substr(hx, 2 * p - 1, 2))::INT FOR p IN range(1, nb + 1)] AS bytes
  FROM h
)
SELECT doc_id,
       CAST(nb AS INTEGER) AS n_bytes,
       CAST(COALESCE(list_sum(bytes), 0) % 2147483648 AS BIGINT) AS checksum,
       CAST(COALESCE(list_sum(bytes[0 * step + 1 : 1 * step]), 0) % 997 AS INTEGER) AS f0_x997,
       CAST(COALESCE(list_sum(bytes[1 * step + 1 : 2 * step]), 0) % 997 AS INTEGER) AS f1_x997,
       CAST(COALESCE(list_sum(bytes[2 * step + 1 : 3 * step]), 0) % 997 AS INTEGER) AS f2_x997,
       CAST(COALESCE(list_sum(bytes[3 * step + 1 : 4 * step]), 0) % 997 AS INTEGER) AS f3_x997
FROM b
"""


# ---------------------------------------------------------------------------
# MM2 — video-style frame sampling (1→N mapInPandas) + per-frame rollup.
# DuckDB-oracled: the fallback demux slices the payload into n_frames
# chunks of max(n_bytes//4, 1) bytes, so per-frame byte lengths are pure
# integer arithmetic (operators/multimodal.py:sample_frames fallback arm).
# ---------------------------------------------------------------------------

def mm2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    binary = multimodal.with_binary_payload(docs, "text")
    frames = multimodal.sample_frames(binary, n_frames=4)
    return frames.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame")).alias("total_bytes"),
    )


MM2_SQL = """
WITH d AS (
  SELECT octet_length(encode(text)) AS nb,
         greatest(octet_length(encode(text)) // 4, 1) AS ch
  FROM documents
), f AS (
  SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS frame_idx, nb, ch FROM d
)
SELECT frame_idx,
       COUNT(*) AS n_frames,
       CAST(SUM(greatest(least((frame_idx + 1) * ch, nb) - frame_idx * ch, 0)) AS BIGINT) AS total_bytes
FROM f GROUP BY frame_idx
"""


# ---------------------------------------------------------------------------
# MM3 — REAL WAV decode + audio features, oracle-gated end-to-end.
# The corpus is synthesized from document bytes (one 16-bit PCM sample per
# byte — operators/multimodal.py:wav_from_bytes), so every decoded feature
# is exact integer arithmetic on the source bytes: quantized sample =
# trunc((b-128)*32767/128) (each float step is a power-of-two scale or an
# exact small-int product), sum of squares < 2^53 so any summation order
# is exact, and the projected integer bases recover bit-for-bit.
# ---------------------------------------------------------------------------

def mm3_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    wavs = multimodal.wav_from_bytes(docs, limit_bytes=256)
    feats = multimodal.audio_features(wavs)
    n = F.round(F.col("duration_s") * 16000).cast("int")
    return feats.select(
        "doc_id",
        "decoded",
        "sample_rate",
        n.alias("n_samples"),
        # rms^2 * n * 2^30 = sum of squared int16 samples, exactly
        # (rms = sqrt(sum/n/2^30); the round() absorbs the sqrt/square
        # rounding, < 2^-13 absolute at n <= 256).
        F.round(
            F.col("rms") * F.col("rms") * n * F.lit(1073741824.0)
        ).cast("bigint").alias("sum_sq_i16"),
        F.round(F.col("peak") * 32768).cast("int").alias("peak_i16"),
        F.round(
            F.col("zero_crossing_rate") * F.greatest(n - 1, F.lit(0))
        ).cast("int").alias("n_sign_changes"),
    )


MM3_SQL = """
WITH h AS (
  SELECT doc_id,
         least(octet_length(encode(text)), 256) AS nb,
         hex(encode(text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, nb,
         [CAST(trunc(
             (('0x' || substr(hx, 2 * p - 1, 2))::INT - 128)
             * 32767.0::DOUBLE / 128.0::DOUBLE
          ) AS BIGINT) FOR p IN range(1, nb + 1)] AS i16
  FROM h
)
SELECT doc_id,
       TRUE AS decoded,
       16000 AS sample_rate,
       CAST(nb AS INTEGER) AS n_samples,
       CAST(COALESCE(list_sum([x * x FOR x IN i16]), 0) AS BIGINT) AS sum_sq_i16,
       CAST(COALESCE(list_max([abs(x) FOR x IN i16]), 0) AS INTEGER) AS peak_i16,
       CAST(COALESCE(list_sum(
         [CASE WHEN (i16[p] < 0) <> (i16[p + 1] < 0) THEN 1 ELSE 0 END
          FOR p IN range(1, nb)]
       ), 0) AS INTEGER) AS n_sign_changes
FROM b
"""


# ---------------------------------------------------------------------------
# MM4 — REAL PPM-stream video decode + temporal features, oracle-gated.
# Two UNIFORM 2x2 gray frames per doc (frame k = text byte k), so the
# per-frame luminance mean is bit-exact in any summation order and the
# luma expression itself (elementwise mul-add, no FMA — see
# _video_feature_row) matches DuckDB's r*w0+g*w1+b*w2 bit-for-bit.
# Docs shorter than 2 bytes get an empty payload -> documented fake path.
# ---------------------------------------------------------------------------

def mm4_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    videos = multimodal.ppm_video_from_bytes(docs, n_frames=2)
    return multimodal.video_features(videos).select(
        "doc_id", "decoded", "n_frames", "mean_luma", "mean_frame_diff"
    )


MM4_SQL = """
WITH h AS (
  SELECT doc_id,
         octet_length(encode(text)) AS nb,
         hex(encode(text)) AS hx
  FROM documents
), v AS (
  SELECT doc_id, nb,
         CASE WHEN nb >= 2 THEN ('0x' || substr(hx, 1, 2))::INT END AS v0,
         CASE WHEN nb >= 2 THEN ('0x' || substr(hx, 3, 2))::INT END AS v1
  FROM h
), l AS (
  SELECT doc_id, nb,
         (v0 * 0.299::DOUBLE + v0 * 0.587::DOUBLE + v0 * 0.114::DOUBLE)
           / 255.0::DOUBLE AS l0,
         (v1 * 0.299::DOUBLE + v1 * 0.587::DOUBLE + v1 * 0.114::DOUBLE)
           / 255.0::DOUBLE AS l1
  FROM v
)
SELECT doc_id,
       nb >= 2 AS decoded,
       CAST(CASE WHEN nb >= 2 THEN 2 ELSE 0 END AS INTEGER) AS n_frames,
       CASE WHEN nb >= 2 THEN (l0 + l1) / 2 ELSE 0.0::DOUBLE END AS mean_luma,
       CASE WHEN nb >= 2 THEN abs(l1 - l0) ELSE 0.0::DOUBLE END AS mean_frame_diff
FROM l
"""


# ---------------------------------------------------------------------------
# MM5 — REAL mp4/mp3 container-metadata parse, oracle-gated end-to-end
# (VERDICT r14 item 5: the round-14 parsers were pytest-only). The corpus
# is spec-vector containers built FROM document bytes
# (operators/multimodal.py:media_corpus_from_docs): even doc_id -> mp4
# with mvhd duration 500+(nb*37)%9000 ms, odd -> mp3 of 2+nb%6 CBR
# frames — so every parsed field is integer arithmetic over
# octet_length(text). Durations are projected to exact integer bases
# (ms for mp4, samples for mp3): the parser's float division/summation
# round-trips exactly under round() at these magnitudes.
# ---------------------------------------------------------------------------

def mm5_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    corpus = multimodal.media_corpus_from_docs(docs)
    meta = multimodal.media_metadata(corpus)
    return meta.select(
        "doc_id",
        "media_type",
        "n_units",
        F.when(
            F.col("media_type") == "mp4",
            F.round(F.col("duration_s") * 1000),
        )
        .otherwise(F.round(F.col("duration_s") * 44100))
        .cast("bigint")
        .alias("dur_units"),
        "detail",
    )


MM5_SQL = """
WITH h AS (
  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'mp3' END AS media_type,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 + nb % 6 END AS BIGINT)
           AS n_units,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 500 + (nb * 37) % 9000
                 ELSE (2 + nb % 6) * 1152 END AS BIGINT) AS dur_units,
       CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE '44100Hz' END AS detail
FROM h
"""


# ---------------------------------------------------------------------------
# TXT5 — BPE-ish token statistics (GPT-2-style pretokenizer regex; the fast
# token-count estimate for training-data budgeting)
# ---------------------------------------------------------------------------

def txt5_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    toks = bpe_tokens(F.col("text"))
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_bpe"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("sum_bpe_tokens"),
        (F.sum("n_bpe").cast("double") / F.count(F.lit(1))).alias("avg_bpe_tokens"),
        F.sum("n_uniq").alias("sum_uniq_bpe"),
    )


TXT5_SQL = f"""
WITH t AS (
  SELECT lang, regexp_extract_all(text, $${BPE_PATTERN}$$) AS toks FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS sum_bpe_tokens,
       CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_bpe_tokens,
       CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS sum_uniq_bpe
FROM t GROUP BY lang
"""


# ---------------------------------------------------------------------------
# F2 — approximate distinct counting (HyperLogLog++; rows-only check — the
# sketch is engine-specific — with an accuracy bound asserted in tests)
# ---------------------------------------------------------------------------

def f2_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def f2b_approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f2's HLL++ sketch under a GATE-LEVEL error-bound assertion
    (VERDICT r8 item 4): the sketch estimate itself is engine-specific,
    but |approx − exact| ≤ 4·rsd·exact is a documented accuracy contract
    (HLL++ rsd=0.02 ⇒ 4σ = 8%; exceedance ~6e-5, and deterministic for a
    fixed dataset+sketch implementation). The query returns the exact
    count plus the bound VERDICT as a column, so the DuckDB oracle —
    exact counts, within_bound literally TRUE — hash-fails the moment
    the sketch strays beyond its contract. The raw estimates stay
    observable via f2 (rows-only)."""
    ev = load_testdata(spark, sf_dir)["events"]
    rsd = 0.02
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("__approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            F.col("exact_users").cast("long").alias("exact_users"),
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= F.lit(4 * rsd) * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


F2B_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# DD6 — benchmark decontamination: train docs sharing a k-gram with the
# eval split (k=5 so the synthetic corpus has hits; production uses 13)
# ---------------------------------------------------------------------------

_DECON_K = 5


def dd6_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    eval_set = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return dedup.decontaminate(train, eval_set, "doc_id", "text", ngram_k=_DECON_K)


# Mirrors operators.dedup.shingles: >=k tokens → sliding k-grams
# (DISTINCT within a doc), shorter docs → one whole-doc gram.
_GRAMS_SQL = f"""
  grams AS (
    SELECT doc_id, array_to_string(list_slice(toks, r.i, r.i + {_DECON_K - 1}), ' ') AS g
    FROM toks, UNNEST(range(1, len(toks) - {_DECON_K} + 2)) AS r(i)
    WHERE len(toks) >= {_DECON_K}
    UNION ALL
    SELECT doc_id, array_to_string(toks, ' ') AS g FROM toks WHERE len(toks) < {_DECON_K}
  ),
  dgrams AS (SELECT DISTINCT doc_id, g FROM grams)
"""

DD6_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SPLIT} AS toks FROM documents
),
{_GRAMS_SQL},
ev AS (SELECT DISTINCT g FROM dgrams WHERE doc_id % 25 = 0),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_shared
  FROM dgrams t JOIN ev USING (g)
  WHERE t.doc_id % 25 != 0
  GROUP BY t.doc_id
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM dgrams WHERE doc_id % 25 != 0 GROUP BY doc_id
)
SELECT h.doc_id,
       CAST(h.n_shared AS BIGINT) AS n_shared_grams,
       CAST(s.n_grams AS BIGINT) AS n_grams
FROM hits h JOIN sizes s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# DD7 — near-dup clustering: connected components over verified Jaccard
# pairs → canonical keeper per cluster (the "which copy do we keep" step)
# ---------------------------------------------------------------------------

def dd7_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    docs = load_testdata(spark, sf_dir)["documents"].filter(F.col("doc_id") % 20 == 0)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", block_col="lang", threshold=0.8)
    cc = connected_components(pairs, "doc1", "doc2")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


DD7_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc1, doc2 FROM ({DD2_SQL}) p
),
sym AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
nodes AS (SELECT DISTINCT a AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
)
SELECT n AS doc_id, MIN(m) AS cluster_id, (n = MIN(m)) AS is_keeper
FROM reach GROUP BY n
"""


# ---------------------------------------------------------------------------
# SMP7 — leakage-aware train/val/test split: a doc's split is decided by a
# hash of its NEAR-DUP CLUSTER representative (dd7's connected components;
# singletons are their own cluster), so near-duplicates can never straddle
# train and eval — the standard contamination control when a dedup pass
# keeps both sides of a near-dup pair. The draw reuses smp1's portable
# md5-hex-prefix uniform, so the 80/10/10 assignment is deterministic and
# engine-identical.
#
# Scale: pair generation and CC are bounded exactly as dd7 (blocked
# Jaccard, bounded component diameter); the assignment itself is one
# skinny LEFT join (doc -> component) plus map-side hash exprs — no
# additional shuffle beyond dd7's.
# ---------------------------------------------------------------------------

def smp7_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    # Wider subset than dd7 (%4 vs %20): the split query's value is the
    # assignment over a real corpus slice; the recursive-CTE oracle stays
    # sub-second at this width.
    docs = load_testdata(spark, sf_dir)["documents"].filter(
        F.col("doc_id") % 4 == 0
    )
    pairs = dedup.jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.8
    )
    cc = connected_components(pairs, "doc1", "doc2").withColumnRenamed(
        "node", "doc_id"
    )
    g = docs.select("doc_id").join(
        cc.select("doc_id", "component"), "doc_id", "left"
    )
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    key = F.substring(F.md5(cluster.cast("string")), 1, 8)
    split = (
        F.when(key < F.lit(_rate_threshold_hex(0.8)), F.lit("train"))
        .when(key < F.lit(_rate_threshold_hex(0.9)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return g.select(
        "doc_id", cluster.alias("cluster_id"), split.alias("split")
    )


def _smp7_sql() -> str:
    t80, t90 = _rate_threshold_hex(0.8), _rate_threshold_hex(0.9)
    # Re-grain the embedded dd7 component oracle to smp7's %4 subset.
    cc_sql = DD7_SQL.replace("doc_id % 20 = 0", "doc_id % 4 = 0")
    return f"""
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM docs d
  LEFT JOIN ({cc_sql}) c ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
  CASE
    WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < '{t80}' THEN 'train'
    WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < '{t90}' THEN 'val'
    ELSE 'test'
  END AS split
FROM assigned
"""


# ---------------------------------------------------------------------------
# SMP1 — deterministic stratified sampling: per-language hash-threshold
# sampling for token-budget curation. md5 hex strings order identically to
# their numeric value (fixed-width lowercase hex), so "md5 prefix < hex
# threshold" is an engine-portable uniform[0,1) draw per doc.
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.1}
_DEFAULT_RATE = 0.1


def _rate_threshold_hex(rate: float) -> str:
    return f"{int(rate * 16**8):08x}"


def smp1_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    threshold = F.lit(_rate_threshold_hex(_DEFAULT_RATE))
    for lang, rate in _SAMPLE_RATES.items():
        threshold = F.when(
            F.col("lang") == lang, F.lit(_rate_threshold_hex(rate))
        ).otherwise(threshold)
    return (
        docs.select("doc_id", "lang", key.alias("sample_key"), threshold.alias("keep_below"))
        .filter(F.col("sample_key") < F.col("keep_below"))
    )


_SMP1_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN '{_rate_threshold_hex(rate)}'"
    for lang, rate in _SAMPLE_RATES.items()
)

SMP1_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key,
         CASE {_SMP1_CASE} ELSE '{_rate_threshold_hex(_DEFAULT_RATE)}' END AS keep_below
  FROM documents
)
SELECT doc_id, lang, sample_key, keep_below
FROM keyed WHERE sample_key < keep_below
"""


# ---------------------------------------------------------------------------
# TXT6 — per-document keyword extraction: top-3 terms by rarity-weighted
# term frequency. Score = tf / df (one correctly-rounded double division,
# so it is bit-identical across engines — ln-based idf is not guaranteed
# to be), ties broken by term; the classic tf-idf shape with a portable
# scoring function.
# ---------------------------------------------------------------------------

def txt6_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_testdata(spark, sf_dir)["documents"]
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(doc_freq, "term")
        .withColumn("score", F.col("tf").cast("double") / F.col("df"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


TXT6_SQL = f"""
WITH words AS (
  SELECT doc_id, w.word AS term
  FROM documents, UNNEST({_SPLIT}) AS w(word)
  WHERE w.word != ''
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term
),
doc_freq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf AS DOUBLE) / d.df AS score
  FROM tf t JOIN doc_freq d USING (term)
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# DD8 — the end-to-end curation answer: exact-dedup the corpus, then drop
# near-dup cluster non-keepers. What a user materializes as the
# training-ready document set.
# ---------------------------------------------------------------------------

def dd8_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    docs = load_testdata(spark, sf_dir)["documents"].filter(F.col("doc_id") % 20 == 0)
    exact_kept = dedup.drop_exact_dups(docs, "doc_id", "text")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", block_col="lang", threshold=0.8)
    non_keepers = (
        connected_components(pairs, "doc1", "doc2")
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    return exact_kept.join(non_keepers, "doc_id", "left_anti").select("doc_id", "lang")


DD8_SQL = f"""
WITH RECURSIVE sample AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 20 = 0
),
fp AS (
  SELECT doc_id, lang, md5(LOWER({_NORM})) AS fingerprint FROM sample
),
exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint
),
pairs AS (
  SELECT doc1, doc2 FROM ({DD2_SQL}) p
),
sym AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs
),
nodes AS (SELECT DISTINCT a AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
),
non_keepers AS (
  SELECT n AS doc_id FROM reach GROUP BY n HAVING n != MIN(m)
)
SELECT f.doc_id, f.lang
FROM fp f
JOIN exact_keep k USING (doc_id)
WHERE f.doc_id NOT IN (SELECT doc_id FROM non_keepers)
"""


# ---------------------------------------------------------------------------
# TXT7 — training-readiness filter: quality gates AND language-ID agreement
# (the composed keep/drop decision a curation pipeline materializes).
# ---------------------------------------------------------------------------

def txt7_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    q = quality_columns(docs, "text")
    ql = langid_columns(q, "text")
    return (
        ql.filter(F.col("keep_quality") & (F.col("pred_lang") == F.col("lang")))
        .select("doc_id", "lang", "n_tokens", "type_token_ratio", "marker_density")
    )


def _txt7_sql() -> str:
    return f"""
WITH q AS ({TXT2_SQL}),
l AS ({_langid_sql()})
SELECT q.doc_id, l.lang, q.n_tokens, q.type_token_ratio, l.marker_density
FROM q JOIN l USING (doc_id)
WHERE q.keep_quality AND l.pred_lang = l.lang
"""


# ---------------------------------------------------------------------------
# TXT8 — PII redaction. The testdata corpus is synthetic word-salad with no
# PII, so the query PLANTS deterministic doc_id-derived PII spans (email,
# credit card, SSN, phone, IPv4) and then redacts them — the hash-match
# therefore proves the redaction actually fired on every kind, not that it
# no-op'd. Counts are audited from the raw text before redaction.
# ---------------------------------------------------------------------------

def txt8_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pii_counts, redact_pii

    docs = load_testdata(spark, sf_dir)["documents"]
    d = F.col("doc_id").cast("string")
    planted = F.concat(
        F.col("text"),
        F.lit(" reach user"), d, F.lit("@example.com or 10."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" ssn 123-45-"), F.lpad(d, 4, "0"),
        F.lit(" call 415-555-"), F.lpad(d, 4, "0"),
        F.lit(" card 4111 1111 1111 "), F.lpad(d, 4, "0"),
    )
    withpii = docs.select("doc_id", planted.alias("pii_text"))
    counts = pii_counts("pii_text")
    return withpii.select(
        "doc_id",
        redact_pii("pii_text").alias("redacted"),
        counts["email"].alias("n_emails"),
        counts["cc"].alias("n_ccs"),
        counts["ssn"].alias("n_ssns"),
        counts["phone"].alias("n_phones"),
        counts["ip"].alias("n_ips"),
    )


def _txt8_sql() -> str:
    from ..operators.text import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    redacted = "pii_text"
    for name, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.'
              || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR)
              || ' ssn 123-45-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              || ' call 415-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              || ' card 4111 1111 1111 ' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
           AS pii_text
  FROM documents
)
SELECT doc_id, {redacted} AS redacted,
       CAST(len(regexp_extract_all(pii_text, '{pats["email"]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(pii_text, '{pats["cc"]}')) AS BIGINT) AS n_ccs,
       CAST(len(regexp_extract_all(pii_text, '{pats["ssn"]}')) AS BIGINT) AS n_ssns,
       CAST(len(regexp_extract_all(pii_text, '{pats["phone"]}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(pii_text, '{pats["ip"]}')) AS BIGINT) AS n_ips
FROM planted
"""


# ---------------------------------------------------------------------------
# TXT9 — context-window chunking: overlapping 32-token windows with stride
# 24 (the fixed-context training prep). Map-side one-to-many, no shuffle.
# ---------------------------------------------------------------------------

def txt9_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chunk_documents

    docs = load_testdata(spark, sf_dir)["documents"]
    return chunk_documents(docs, "doc_id", "text", chunk_size=32, stride=24)


TXT9_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
  FROM t
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS INTEGER) AS n_chunk_tokens,
       array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text
FROM s, UNNEST(range(0, n_chunks)) AS g(i)
"""


# ---------------------------------------------------------------------------
# TXT10 — repetition-based quality metrics (the Gopher/MassiveText
# repetition rules adapted to single-line docs): duplicate-word fraction
# and most-frequent-word-bigram share per document. High values flag the
# boilerplate/spam documents a pretraining corpus wants filtered.
# ---------------------------------------------------------------------------

def txt10_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_testdata(spark, sf_dir)["documents"]
    words_df = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("words")
    )
    base = words_df.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.size(F.array_distinct("words")).alias("n_distinct"),
    )
    # Bigrams via posexplode + lead window, NOT explode(transform(...)):
    # Generate re-evaluates a non-attribute child per OUTPUT row, so an
    # interpreted HOF bigram array goes O(len^2) per doc (measured 13.3 s
    # for this stage at sf0.1 vs 1.2 s for this formulation). Exploding the
    # plain words column is a cheap attribute generate; lead() pairs each
    # token with its successor in one linear window pass.
    wlead = Window.partitionBy("doc_id").orderBy("pos")
    gram_counts = (
        words_df.select("doc_id", F.posexplode("words").alias("pos", "w"))
        .withColumn("nxt", F.lead("w").over(wlead))
        .filter(F.col("nxt").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "w", "nxt").alias("gram"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top = (
        gram_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("gram").alias("top_bigram"),
            F.col("cnt").alias("top_bigram_n"),
        )
    )
    return (
        base.select("doc_id", "n_words", "n_distinct")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double")
                / F.col("n_words").cast("double")
            ).alias("dup_word_frac"),
            "top_bigram",
            F.col("top_bigram_n").cast("bigint").alias("top_bigram_n"),
            (
                F.col("top_bigram_n").cast("double")
                / (F.col("n_words") - 1).cast("double")
            ).alias("top_bigram_frac"),
        )
    )


_WORDS_LC = "string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')"

TXT10_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_LC} AS words FROM documents
), s AS (
  SELECT doc_id, len(words) AS n_words, len(list_distinct(words)) AS n_distinct,
         [words[i] || ' ' || words[i + 1] FOR i IN range(1, len(words))] AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM s
), cnts AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM e GROUP BY 1, 2
), top AS (
  SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_n
  FROM (SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
        FROM cnts)
  WHERE rn = 1
)
SELECT s.doc_id,
       CAST(s.n_words AS INTEGER) AS n_words,
       1.0 - CAST(s.n_distinct AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS dup_word_frac,
       t.top_bigram,
       CAST(t.top_bigram_n AS BIGINT) AS top_bigram_n,
       CAST(t.top_bigram_n AS DOUBLE) / CAST(s.n_words - 1 AS DOUBLE) AS top_bigram_frac
FROM s LEFT JOIN top t USING (doc_id)
"""


# ---------------------------------------------------------------------------
# SMP2 — weighted mixture sampling: per-source keep rates (the data-mixture
# reweighting step of corpus assembly), drawn with the same md5-uniform
# trick as smp1 but compared NUMERICALLY so the per-row rate can be a
# column. rate(source srcN) = (N % 5 + 1) / 10 — a deterministic stand-in
# for a mixture config table.
# ---------------------------------------------------------------------------

#: floor(16^8 / 10): one tenth of the 8-hex-digit draw space.
_TENTH = 16**8 // 10


def smp2_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    rate_i = src_num % 5 + 1
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            "source",
            draw.alias("draw"),
            (rate_i.cast("double") / 10).alias("rate"),
            (rate_i.cast("bigint") * F.lit(_TENTH)).alias("keep_below"),
        )
        .filter(F.col("draw") < F.col("keep_below"))
    )


SMP2_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS draw,
         -- TRY_CAST: a digit-less source yields NULL (Spark's cast-to-int
         -- semantics), so the row drops out of the NULL-rejecting filter
         -- below on BOTH engines instead of DuckDB erroring on CAST('').
         CAST(TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) % 5 + 1 AS BIGINT) AS rate_i
  FROM documents
)
SELECT doc_id, source, draw,
       CAST(rate_i AS DOUBLE) / 10 AS rate,
       rate_i * {_TENTH} AS keep_below
FROM keyed WHERE draw < rate_i * {_TENTH}
"""


# ---------------------------------------------------------------------------
# TXT11 — global vocabulary statistics: corpus-wide top terms by collection
# frequency with document frequency — the heavy-hitter scan feeding
# tokenizer/stopword decisions. One explode + one (term) shuffle with
# map-side partial aggregation; the final top-N is a tiny TakeOrdered.
# ---------------------------------------------------------------------------

def txt11_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    terms = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(100)
    )


TXT11_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
)
SELECT term, COUNT(*) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM t WHERE term <> ''
GROUP BY term ORDER BY tf DESC, term ASC LIMIT 100
"""


# ---------------------------------------------------------------------------
# TXT12 — Okapi BM25 relevance search (operators/text.py:bm25_topk): the
# corpus-search primitive for query-based curation. Exact oracle: both
# engines compute the identical expression tree; scores are rounded to 6
# decimals and ranked by the ROUNDED value (ln() may differ by 1 ULP
# across libms and the per-doc term sum has no defined order — rounding
# makes both immaterial).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["vector", "hash", "join"]


# ---------------------------------------------------------------------------
# SMP3 — sequence packing (operators/packing.py): greedy FFD doc→pack
# assignment inside hash groups; rows-only (procedural loop, not
# SQL-expressible) with invariants + pure-Python reference equality in
# tests/test_packing.py. Returns pack-level stats sorted for stability.
# ---------------------------------------------------------------------------

def smp3_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences, pack_stats

    docs = load_testdata(spark, sf_dir)["documents"]
    packed = pack_sequences(docs, max_tokens=512, n_groups=16)
    return pack_stats(packed, max_tokens=512).orderBy("pack_id")


def smp3b_pack_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """smp3's packer in its exact regime: capacity below every document's
    token count (corpus min is 10 tokens at every sf, asserted by the
    oracle being non-vacuous), one hash group. Every doc then takes the
    oversize-singleton branch, so the full applyInPandas pipeline —
    token counting, the FFD (n_tokens desc, doc_id asc) ordering, pack-id
    sequencing, the oversize flag — must reproduce a closed-form answer:
    pack_id = position in FFD order, oversize = true. SQL-expressible,
    hence oracle-hash-checked; smp3 remains the general (procedural,
    rows-only) path."""
    from ..operators.packing import pack_sequences

    docs = load_testdata(spark, sf_dir)["documents"]
    return pack_sequences(docs, max_tokens=1, n_groups=1)


SMP3B_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SPLIT}) AS BIGINT) AS n_tokens FROM documents
)
SELECT doc_id, n_tokens,
       CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1 AS BIGINT)
         AS pack_id,
       TRUE AS oversize
FROM t
"""


def txt12_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return bm25_topk(docs, _BM25_TERMS, k=20)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

TXT12_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), per_doc AS (
  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term FROM tok
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(toks)) AS avgdl FROM tok
), tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM per_doc WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2, 3
), df AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS contrib
  FROM tf JOIN df USING (term) CROSS JOIN stats s
), agg AS (
  SELECT doc_id, ROUND(SUM(contrib), 6) AS score,
         CAST(COUNT(*) AS INTEGER) AS n_hit_terms
  FROM scored GROUP BY 1
)
SELECT doc_id, n_hit_terms, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# F3 — approximate percentiles (GK sketch via percentile_approx) alongside
# the exact values. Like f2, the sketch is engine-specific so the check is
# an error bound (tests/test_functions.py), not an oracle hash.
# ---------------------------------------------------------------------------

def f3_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir)["lineitem"]
    qs = [0.5, 0.9, 0.99]
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", qs, 10_000).alias("approx"),
        F.expr(
            "percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))"
        ).alias("exact"),
    ).select(
        "l_returnflag",
        *[F.col("approx")[i].alias(f"approx_p{int(q*100)}") for i, q in enumerate(qs)],
        *[F.col("exact")[i].alias(f"exact_p{int(q*100)}") for i, q in enumerate(qs)],
    )


def f3b_approx_percentiles_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f3's GK sketch (percentile_approx) under a gate-level rank-error
    bound: with accuracy a, the returned value's rank is within ±n/a of
    the target rank, so it must lie between the EXACT discrete
    percentiles at q ∓ 2/a (factor-2 slack absorbs rank rounding at
    group boundaries). percentile_disc values are actual data elements —
    cross-engine exact (the f1 pattern) — so the oracle returns the
    exact envelope columns plus within_bound=TRUE and hash-fails if the
    sketch ever leaves its documented envelope."""
    li = load_testdata(spark, sf_dir)["lineitem"]
    qs = [0.5, 0.9, 0.99]
    acc = 10_000
    eps = 2.0 / acc
    lo = [max(0.0, q - eps) for q in qs]
    hi = [min(1.0, q + eps) for q in qs]
    disc = lambda q: F.expr(  # noqa: E731
        f"percentile_disc({q!r}) WITHIN GROUP (ORDER BY l_extendedprice)"
    )
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", qs, acc).alias("__approx"),
        *[disc(lo[i]).alias(f"__lo{i}") for i in range(len(qs))],
        *[disc(hi[i]).alias(f"__hi{i}") for i in range(len(qs))],
        *[disc(q).alias(f"exact_p{int(q * 100)}") for q in qs],
    )
    bound = None
    for i in range(len(qs)):
        ok = (F.col("__approx")[i] >= F.col(f"__lo{i}")) & (
            F.col("__approx")[i] <= F.col(f"__hi{i}")
        )
        bound = ok if bound is None else (bound & ok)
    return agg.select(
        "l_returnflag",
        *[f"exact_p{int(q * 100)}" for q in qs],
        bound.alias("within_bound"),
    )


F3B_SQL = """
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.5) AS exact_p50,
       quantile_disc(l_extendedprice, 0.9) AS exact_p90,
       quantile_disc(l_extendedprice, 0.99) AS exact_p99,
       TRUE AS within_bound
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# F6 — fixed-width histogram of document lengths: the basic distribution
# primitive beside exact (f1) and sketched (f3) percentiles. Fixed width
# (no data-dependent min/max pass) keeps it one partial-agg shuffle and
# makes the bin function a pure row-local floor — exact oracle, integer
# arithmetic only.
# ---------------------------------------------------------------------------

_F6_WIDTH = 16


def f6_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    b = F.floor(F.col("n_chars") / _F6_WIDTH).cast("bigint")
    return (
        docs.groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bin",
            (F.col("bin") * _F6_WIDTH).alias("bin_lo"),
            ((F.col("bin") + 1) * _F6_WIDTH - 1).alias("bin_hi"),
            "n_docs",
        )
    )


F6_SQL = f"""
SELECT CAST(floor(n_chars / {_F6_WIDTH}) AS BIGINT) AS bin,
       CAST(floor(n_chars / {_F6_WIDTH}) AS BIGINT) * {_F6_WIDTH} AS bin_lo,
       (CAST(floor(n_chars / {_F6_WIDTH}) AS BIGINT) + 1) * {_F6_WIDTH} - 1 AS bin_hi,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# TXT15 — distributed BPE tokenizer training + application
# (operators/bpe.py): learn merges from the word-FREQUENCY table (one
# corpus shuffle; every round after that is vocabulary-bounded), then
# segment the corpus with the merge list in an Arrow mapInPandas pass.
# Rows-only (iterative argmax loop is not SQL-expressible); the learned
# merge list equals a pure-Python reference bit-for-bit, including
# tie-breaks (tests/test_bpe.py, property-tested).
# ---------------------------------------------------------------------------

def txt15_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_segment, bpe_train

    docs = load_testdata(spark, sf_dir)["documents"]
    merges = bpe_train(docs.filter(F.col("doc_id") % 2 == 0), n_merges=12)
    return bpe_segment(docs, merges).select(
        F.col("id").alias("doc_id"), "n_words", "n_bpe_tokens"
    )


def txt15b_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """txt15's trainer in its exact regime: n_merges=1. The first BPE
    merge is a closed-form function of the corpus — argmax over
    freq-weighted adjacent single-char symbol pair counts with the
    (count desc, left asc, right asc) tie-break — so the whole
    distributed round (word-frequency shuffle, char splitting + EOW,
    posexplode/lead pair counting, weighted argmax) hash-checks against
    a from-scratch SQL oracle. Later merges depend procedurally on
    earlier rewrites (txt15 stays rows-only, pinned to a pure-Python
    reference in tests/test_bpe.py)."""
    from ..operators.bpe import bpe_train

    docs = load_testdata(spark, sf_dir)["documents"]
    (lhs, rhs, n) = bpe_train(docs, n_merges=1)[0]
    return spark.createDataFrame(
        [(lhs, rhs, int(n))], "lhs string, rhs string, pair_count long"
    )


TXT15B_SQL = f"""
WITH w AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1
), sy AS (
  SELECT freq,
         list_append([substr(word, CAST(i AS INTEGER), 1)
                      FOR i IN range(1, len(word) + 1)], '</w>') AS syms
  FROM w WHERE len(word) <= 256
), pr AS (
  SELECT unnest([{{'l': syms[CAST(i AS INTEGER)], 'r': syms[CAST(i AS INTEGER) + 1]}}
                 FOR i IN range(1, len(syms))]) AS p,
         freq
  FROM sy
)
SELECT p.l AS lhs, p.r AS rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pr GROUP BY 1, 2
ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
"""


# ---------------------------------------------------------------------------
# SMP4 — temperature-scaled mixture sampling: per-source keep rates
# proportional to n_s^alpha (alpha = 0.5), the standard multilingual /
# multi-source rebalancing (upsample the tail, downsample the head) with
# a 30%-of-corpus target size. Deterministic md5-integer draw against an
# integer threshold (the smp1/smp2 machinery — no float comparison at the
# keep boundary); the derived rate is rounded to 9 decimals before the
# threshold so pow()/sum 1-ULP engine differences cannot move it.
# Exchange-free on the corpus side: rates are a broadcast |sources|-row
# dim; the draw and filter are map-side.
# ---------------------------------------------------------------------------

def smp4_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = counts.agg(
        F.sum(F.pow(F.col("n_s").cast("double"), F.lit(0.5))).alias("z"),
        F.sum("n_s").alias("n_total"),
    )
    meta = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.floor(F.lit(0.3) * F.col("n_total"))
                    * F.pow(F.col("n_s").cast("double"), F.lit(0.5))
                    / F.col("z")
                    / F.col("n_s").cast("double"),
                ),
                9,
            ).alias("rate"),
        )
        .withColumn(
            "keep_below",
            F.floor(F.col("rate") * F.lit(float(2**32))).cast("bigint"),
        )
    )
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        docs.join(F.broadcast(meta), "source")
        .select("doc_id", "source", "rate", "keep_below", draw.alias("draw"))
        .filter(F.col("draw") < F.col("keep_below"))
        .select("doc_id", "source", "rate")
    )


SMP4_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY 1
), tot AS (
  SELECT SUM(pow(CAST(n_s AS DOUBLE), 0.5)) AS z,
         CAST(SUM(n_s) AS BIGINT) AS n_total
  FROM counts
), meta AS (
  SELECT source,
         ROUND(LEAST(1.0,
                     floor(0.3 * n_total)
                     * pow(CAST(n_s AS DOUBLE), 0.5) / z
                     / CAST(n_s AS DOUBLE)), 9) AS rate
  FROM counts CROSS JOIN tot
), keyed AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS draw
  FROM documents
)
SELECT k.doc_id, k.source, m.rate
FROM keyed k JOIN meta m USING (source)
WHERE k.draw < CAST(floor(m.rate * 4294967296.0) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# SMP6 — token-budget sampling (operators/sampling.py): fill each
# source's TOKEN budget (not an expected keep-rate) by walking documents
# in deterministic draw order and keeping the prefix whose running token
# total stays within budget. Computed with the two-phase distributed
# prefix sum (draw-range buckets + tiny offset frame), bit-identical to
# the oracle's single window.
# ---------------------------------------------------------------------------

def smp6_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample

    docs = load_testdata(spark, sf_dir)["documents"]
    return token_budget_sample(docs, ["source"], budget=700)


SMP6_SQL = f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_SPLIT}) AS BIGINT) AS n_tok,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS draw
  FROM documents
), c AS (
  SELECT source, doc_id, n_tok,
         SUM(n_tok) OVER (
           PARTITION BY source ORDER BY draw, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tok
  FROM t
)
SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= 700
"""


# ---------------------------------------------------------------------------
# F5 — approximate heavy hitters (operators/text.py:heavy_hitters):
# per-partition SpaceSaving sketches, merged — the map-side-bounded
# top-terms path for vocabularies too large to shuffle (txt11 is the
# exact counterpart). Rows-only; the overestimate/error-bound contract vs
# the exact rollup is pinned in tests/test_text_models.py.
# ---------------------------------------------------------------------------

def f5_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import heavy_hitters

    docs = load_testdata(spark, sf_dir)["documents"]
    return heavy_hitters(docs, k=20, capacity=512)


# ---------------------------------------------------------------------------
# F5B — SpaceSaving in its EXACT regime (VERDICT r6 item 4): when
# ``capacity >= per-partition distinct keys`` no counter is ever evicted,
# so every partition's sketch is a plain frequency map (err = 0,
# floor = 0) and the merged estimate equals the true count. That makes
# the sketch pipeline itself checkable against a plain GROUP BY / ORDER
# BY oracle — hash-green here proves the mapInPandas fold, the marker-row
# floor accounting, and the merge algebra, not just a row count.
# ---------------------------------------------------------------------------

def f5b_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import heavy_hitters

    docs = load_testdata(spark, sf_dir)["documents"]
    return heavy_hitters(docs, k=20, capacity=4096)


F5B_SQL = f"""
WITH terms AS (
  SELECT unnest(string_split(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS err_bound,
       CAST(row_number() OVER (ORDER BY COUNT(*) DESC, term) AS INT) AS rank
FROM terms WHERE term <> ''
GROUP BY term
ORDER BY est_count DESC, term
LIMIT 20
"""


# ---------------------------------------------------------------------------
# SMP8 — resample-to-target mixture: downsample each language group so the
# kept corpus lands on EXPLICIT target proportions (the training-mixture
# rebalancing op: p_en=0.4, ...). The feasible scale is s = min_g n_g/p_g
# (downsampling only — no group can be inflated), giving per-group keep
# rate r_g = s*p_g/n_g; draws are the portable md5-uniform compared as a
# floor'd integer threshold so both engines make bit-identical decisions.
# Scale: one count aggregate (broadcast-sized), rates joined back map-side
# (broadcast), one pass over the corpus — no shuffle of data rows.
# ---------------------------------------------------------------------------

_SMP8_TARGET = {"en": 0.40, "de": 0.20, "fr": 0.20, "es": 0.15, "zh": 0.05}


def smp8_resample_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    p = F.create_map(
        *[F.lit(x) for kv in _SMP8_TARGET.items() for x in kv]
    )[F.col("lang")]
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_g"))
    rates = (
        counts.withColumn("p_g", p)
        .withColumn("n_over_p", F.col("n_g") / F.col("p_g"))
    )
    scale = rates.agg(F.min("n_over_p").alias("s"))
    rates = rates.crossJoin(F.broadcast(scale)).select(
        "lang",
        F.least(
            F.lit(1.0), F.col("s") * F.col("p_g") / F.col("n_g")
        ).alias("rate"),
    )
    draw = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .filter(draw < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("bigint"))
        .select("doc_id", "lang")
    )
    return kept


def _smp8_sql() -> str:
    case = " ".join(
        f"WHEN lang = '{k}' THEN {v!r}" for k, v in _SMP8_TARGET.items()
    )
    return f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang
),
rates0 AS (
  SELECT lang, n_g, CASE {case} END AS p_g FROM counts
),
s AS (SELECT MIN(n_g / p_g) AS scale FROM rates0),
rates AS (
  SELECT lang, LEAST(1.0, s.scale * p_g / n_g) AS rate FROM rates0, s
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# DD10 — exact-substring duplication (operators/dedup.py:
# exact_substring_pairs): doc pairs sharing a verbatim 8-token window,
# frequency-capped inverted index (boilerplate windows in > 8 docs are
# dropped before pair generation, bounding fan-out at C(8,2) per window).
# Exact DuckDB oracle — pure integer counts, no float risk.
# ---------------------------------------------------------------------------

def dd10_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir)["documents"]
    return dedup.exact_substring_pairs(docs, k=8, max_gram_docs=8)


DD10_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SPLIT} AS toks FROM documents
), grams AS (
  SELECT doc_id, array_to_string(list_slice(toks, r.i, r.i + 7), ' ') AS g
  FROM toks, UNNEST(range(1, len(toks) - 8 + 2)) AS r(i)
  WHERE len(toks) >= 8
  UNION ALL
  SELECT doc_id, array_to_string(toks, ' ') AS g FROM toks WHERE len(toks) < 8
), dgrams AS (
  SELECT DISTINCT doc_id, g FROM grams
), elig AS (
  SELECT g FROM dgrams GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 8
), cand AS (
  SELECT d.doc_id, d.g FROM dgrams d JOIN elig USING (g)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_windows
FROM cand a JOIN cand b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# SIM5 — distributed k-means corpus clustering (operators/similarity.py:
# kmeans_fit + kmeans_assign): the embedding-space bucketing step behind
# semantic dedup / topic balancing of a training corpus. Rows-only
# (iterative Lloyd training is not SQL-expressible); determinism, full
# coverage, and the inertia contract are pinned in tests/test_kmeans_assign.py.
# ---------------------------------------------------------------------------

def sim5_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir)["embeddings"]
    centroids, _ = similarity.kmeans_fit(
        emb, "vec_id", "embedding", n_cells=8, max_iter=5
    )
    assigned = similarity.kmeans_assign(emb, centroids, "vec_id", "embedding")
    return similarity.kmeans_cluster_stats(assigned)


# ---------------------------------------------------------------------------
# SIM5B — the k-means ASSIGNMENT pass under an exact oracle (VERDICT r6
# item 4): with centroids pinned to four data rows (vec_id 0..3, cell =
# rank by vec_id), the argmin-over-centroids step IS SQL-expressible, so
# the mapInPandas numpy pass — the expanded ||x||²-2x·c+||c||² distance,
# the lowest-index tie-break, the float64 upcast — gets a hash-green
# check instead of rows-only. dist2 is rounded to 6 decimals on both
# sides (the txt12 convention) to absorb the expanded-vs-direct
# summation-order difference (~1e-12 at this scale).
# ---------------------------------------------------------------------------

def sim5b_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_testdata(spark, sf_dir)["embeddings"]
    crows = (
        emb.filter(F.col("vec_id").isin(0, 1, 2, 3))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    C = np.asarray([list(r[0]) for r in crows], dtype=np.float64)
    assigned = similarity.kmeans_assign(emb, C, "vec_id", "embedding")
    return assigned.select(
        F.col("id").alias("vec_id"),
        "cell",
        F.round("dist2", 6).alias("dist2_r"),
    )


SIM5B_SQL = """
WITH c AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings WHERE embedding IS NOT NULL
), d AS (
  SELECT vec_id, cell,
         list_sum(list_transform(range(1, len(ev) + 1), i -> (ev[i] - cv[i]) ^ 2)) AS dist2
  FROM v CROSS JOIN c
)
SELECT vec_id, cell, round(dist2, 6) AS dist2_r
FROM d
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) = 1
"""


# ---------------------------------------------------------------------------
# TXT13 — bigram language-model quality scoring (operators/text.py:
# bigram_lm_score): fit an add-one-smoothed word-bigram LM on the even
# doc_ids, score EVERY document by mean bigram log-probability — the
# perplexity-proxy corpus filter that catches incoherent text repetition
# metrics (txt10) miss. Exact oracle: identical expression tree; avg_logp
# rounded to 6 decimals (the txt12 ln()/sum-order convention).
# ---------------------------------------------------------------------------

def txt13_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bigram_lm_score

    docs = load_testdata(spark, sf_dir)["documents"]
    train = docs.filter(F.col("doc_id") % 2 == 0)
    return bigram_lm_score(train, docs)


TXT13_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_LC} AS words FROM documents
), g AS (
  SELECT doc_id,
         unnest([words[i] FOR i IN range(1, len(words))]) AS w,
         unnest([words[i + 1] FOR i IN range(1, len(words))]) AS nxt,
         unnest([words[i] || ' ' || words[i + 1] FOR i IN range(1, len(words))]) AS gram
  FROM w
), tr AS (
  SELECT * FROM g WHERE doc_id % 2 = 0
), c2 AS (
  SELECT gram, COUNT(*) AS c2 FROM tr GROUP BY 1
), c1 AS (
  SELECT w, COUNT(*) AS c1 FROM tr GROUP BY 1
), v AS (
  SELECT CAST(COUNT(DISTINCT nxt) AS DOUBLE) AS v_size FROM tr
), sc AS (
  SELECT g.doc_id,
         ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
            / (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + v.v_size)) AS logp
  FROM g LEFT JOIN c2 USING (gram) LEFT JOIN c1 USING (w) CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(logp), 6) AS avg_logp
FROM sc GROUP BY 1
"""


# ---------------------------------------------------------------------------
# TXT14 — multinomial Naive Bayes language classifier (operators/text.py:
# nb_classify): train on even doc_ids with the `lang` labels, predict the
# odd half — the distributed, deterministic stand-in for a fastText-style
# curation classifier. Exact oracle: per-(doc, label) scores are rounded to
# 6 decimals BEFORE the argmax (ties → label asc), so the prediction is
# engine-stable.
# ---------------------------------------------------------------------------

def txt14_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import nb_classify

    docs = load_testdata(spark, sf_dir)["documents"]
    return nb_classify(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


TXT14_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, {_WORDS_LC} AS words FROM documents
), tr AS (
  SELECT lang, unnest(words) AS tok FROM w WHERE doc_id % 2 = 0
), lik AS (
  SELECT lang, tok, COUNT(*) AS c FROM tr GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS tot_l FROM tr GROUP BY 1
), nd AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_docs_l
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), ntot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents WHERE doc_id % 2 = 0
), v AS (
  SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v_size FROM tr
), meta AS (
  SELECT nd.lang, ln(nd.n_docs_l / ntot.n_docs) AS ln_prior, tot.tot_l, v.v_size
  FROM nd JOIN tot USING (lang) CROSS JOIN ntot CROSS JOIN v
), te AS (
  SELECT doc_id, actual, tok, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM (SELECT doc_id, lang AS actual, unnest(words) AS tok
        FROM w WHERE doc_id % 2 = 1)
  GROUP BY 1, 2, 3
), sc AS (
  SELECT te.doc_id, te.actual, m.lang AS lbl,
         ROUND(MAX(m.ln_prior)
               + SUM(te.cnt * ln(CAST(COALESCE(l.c, 0) + 1 AS DOUBLE)
                                 / (m.tot_l + m.v_size))), 6) AS score
  FROM te CROSS JOIN meta m
  LEFT JOIN lik l ON l.lang = m.lang AND l.tok = te.tok
  GROUP BY 1, 2, 3
), top AS (
  SELECT doc_id, actual, lbl, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lbl ASC) AS rn
  FROM sc
)
SELECT doc_id, actual AS lang, lbl AS predicted, score, lbl = actual AS correct
FROM top WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# SMP5 — fixed-k stratified sampling (eval-set carving: exactly k docs per
# language, deterministic). The md5-hex draw (smp1's convention) gives the
# per-doc uniform key; operators/top1.py:topk_per_group ranks it. Skew
# story: Catalyst's WindowGroupLimit runs the rank in two phases (Partial
# before the exchange), so a hot stratum never lands a whole window on
# one task — measured faster than manual salting (see topk_per_group).
# ---------------------------------------------------------------------------

_SMP5_K = 25


def smp5_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.top1 import topk_per_group

    docs = load_testdata(spark, sf_dir)["documents"]
    keyed = docs.select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("sample_key"),
    )
    picked = topk_per_group(
        keyed,
        ["lang"],
        [F.asc("sample_key"), F.asc("doc_id")],
        k=_SMP5_K,
    )
    return picked.select(
        "doc_id", "lang", "sample_key", F.col("rank").cast("int").alias("rank")
    )


SMP5_SQL = f"""
SELECT doc_id, lang, sample_key, CAST(rank AS INT) AS rank
FROM (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS rank
  FROM documents
) WHERE rank <= {_SMP5_K}
"""


# ---------------------------------------------------------------------------
# F7 — distribution-drift monitor (PSI): the check a training-data
# pipeline runs between crawl snapshots before mixing a new batch in.
# Fixed-width value buckets, Laplace-smoothed shares, per-bucket PSI
# contribution. One conditional-agg scan; the 10-row bucket table never
# shuffles anything wide. Exact oracle: shares are int-derived double
# divisions; the ln() term is rounded to 6 decimals (the txt12/txt13
# libm convention).
# ---------------------------------------------------------------------------

def f7_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_testdata(spark, sf_dir)["events"]
    week_a = (F.col("ts") >= F.lit("2024-01-01").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    )
    week_b = (F.col("ts") >= F.lit("2024-01-08").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-15").cast("timestamp")
    )
    bucketed = ev.filter(week_a | week_b).select(
        F.floor(F.col("value") / 50).cast("int").alias("bucket"),
        week_a.cast("long").alias("in_a"),
        week_b.cast("long").alias("in_b"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum("in_a").alias("n_a"), F.sum("in_b").alias("n_b")
    )
    w = Window.partitionBy()
    n_buckets = F.count(F.lit(1)).over(w)
    p_a = (F.col("n_a") + 1).cast("double") / (F.sum("n_a").over(w) + n_buckets).cast("double")
    p_b = (F.col("n_b") + 1).cast("double") / (F.sum("n_b").over(w) + n_buckets).cast("double")
    return counts.select(
        "bucket",
        "n_a",
        "n_b",
        F.round((p_a - p_b) * F.log(p_a / p_b), 6).alias("psi_term_r"),
    )


F7_SQL = """
WITH counts AS (
  SELECT CAST(floor(value / 50) AS INT) AS bucket,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS n_b
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
  GROUP BY 1
), shares AS (
  SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(n_a + 1 AS DOUBLE) / CAST(SUM(n_a) OVER () + COUNT(*) OVER () AS DOUBLE) AS p_a,
         CAST(n_b + 1 AS DOUBLE) / CAST(SUM(n_b) OVER () + COUNT(*) OVER () AS DOUBLE) AS p_b
  FROM counts
)
SELECT bucket, n_a, n_b, round((p_a - p_b) * ln(p_a / p_b), 6) AS psi_term_r
FROM shares
"""


# ---------------------------------------------------------------------------
# DD11 — SemDeDup: cluster-bounded semantic dedup (operators/similarity.py:
# semdedup_flags, after Abbas et al. 2023). Cluster assignment bounds the
# pairwise-cosine quadratic to within-cell work; greedy keep-first drops
# every vector with a lower-id neighbor above the threshold. With pinned
# data-row centroids (the sim5b pattern) the WHOLE pipeline — argmin
# assignment, within-cell pairs, rounded-cosine threshold, drop flags —
# is SQL-expressible, so this composition gets a hash-green oracle.
# ---------------------------------------------------------------------------

def dd11_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_testdata(spark, sf_dir)["embeddings"]
    crows = (
        emb.filter(F.col("vec_id").isin(0, 1, 2, 3))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    C = np.asarray([list(r[0]) for r in crows], dtype=np.float64)
    assigned = similarity.kmeans_assign(emb, C, "vec_id", "embedding")
    with_cell = emb.join(
        assigned.select(F.col("id").alias("vec_id"), "cell"), "vec_id"
    )
    return similarity.semdedup_flags(
        with_cell, "vec_id", "embedding", threshold=0.4
    ).select(
        F.col("id").alias("vec_id"), "cell", "n_dups_lower", "is_dropped"
    )


DD11_SQL = """
WITH c AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings WHERE embedding IS NOT NULL
), a AS (
  SELECT vec_id, cell, ev FROM (
    SELECT v.vec_id, c.cell, v.ev,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(range(1, len(ev) + 1),
                                              i -> (ev[i] - cv[i]) ^ 2)), cell
           ) AS rn
    FROM v CROSS JOIN c
  ) WHERE rn = 1
), hits AS (
  SELECT a.vec_id, a.cell,
         CASE WHEN lo.vec_id IS NULL THEN 0
              WHEN round(list_inner_product(a.ev, lo.ev)
                         / (sqrt(list_inner_product(a.ev, a.ev))
                            * sqrt(list_inner_product(lo.ev, lo.ev))), 6) >= 0.4
              THEN 1 ELSE 0 END AS hit
  FROM a LEFT JOIN a lo ON lo.cell = a.cell AND lo.vec_id < a.vec_id
)
SELECT vec_id, cell,
       CAST(SUM(hit) AS BIGINT) AS n_dups_lower,
       SUM(hit) > 0 AS is_dropped
FROM hits GROUP BY vec_id, cell
"""


# ---------------------------------------------------------------------------
# F8 — Count-Min sketch (operators/text.py:cms_sketch/cms_estimate):
# frequency point-queries in bounded memory, completing the sketch family
# beside HLL (f2), GK (f3), SpaceSaving (f5), histogram (f6). The bucket
# is an md5-hex-substring STRING, so the entire sketch — build and probe
# — is SQL-expressible and the (approximate!) estimates hash-check
# exactly cross-engine; the est >= true one-sided guarantee is pinned
# against exact counts in tests/test_functions.py.
# ---------------------------------------------------------------------------

_F8_TERMS = ["data", "spark", "merge", "window", "slow", "zz_absent_term"]
_F8_DEPTH = 4
_F8_HEX = 3


def f8_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import cms_estimate, cms_sketch

    docs = load_testdata(spark, sf_dir)["documents"]
    sk = cms_sketch(docs, depth=_F8_DEPTH, hex_digits=_F8_HEX)
    return cms_estimate(sk, _F8_TERMS, depth=_F8_DEPTH, hex_digits=_F8_HEX)


_F8_TERMS_SQL = ", ".join(f"('{t}')" for t in _F8_TERMS)

F8_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(TRIM(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), rows_ AS (
  SELECT term, d FROM toks, (SELECT unnest(range({_F8_DEPTH})) AS d)
  WHERE term <> ''
), sketch AS (
  SELECT d, substr(md5(term || '|' || CAST(d AS VARCHAR)), 1, {_F8_HEX}) AS bucket,
         COUNT(*) AS cnt
  FROM rows_ GROUP BY 1, 2
), probe AS (
  SELECT t.term, d.d,
         substr(md5(t.term || '|' || CAST(d.d AS VARCHAR)), 1, {_F8_HEX}) AS bucket
  FROM (VALUES {_F8_TERMS_SQL}) t(term), (SELECT unnest(range({_F8_DEPTH})) AS d) d
)
SELECT p.term, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est_count
FROM probe p LEFT JOIN sketch s USING (d, bucket)
GROUP BY p.term
"""


# ---------------------------------------------------------------------------
# TXT16 — learned quality classifier: distributed logistic regression
# (operators/classifier.py) over cheap engine-side features, trained by
# one-corpus-scan-per-epoch partial-gradient GD (the kmeans_fit shape).
# Rows-only (iterative training); loss-monotonicity/determinism/
# discrimination pinned in tests/test_classifier.py. TXT16B scores with
# PINNED weights — pure row-local expressions — under an exact DuckDB
# oracle (the f5b/sim5b exact-regime pattern).
# ---------------------------------------------------------------------------

def txt16_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import logreg_fit, logreg_score

    docs = load_testdata(spark, sf_dir)["documents"]
    w, _hist = logreg_fit(docs, F.col("lang") == "en", max_iter=15)
    return logreg_score(docs, w)


_TXT16B_W = [-2.0, 0.8, 0.3, -0.5, -3.0]


def txt16b_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import logreg_score

    docs = load_testdata(spark, sf_dir)["documents"]
    return logreg_score(docs, _TXT16B_W)


TXT16B_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS nc,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS nt,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS nd
  FROM documents
), scored AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(
             {_TXT16B_W[0]} * 1.0
           + {_TXT16B_W[1]} * log10(nc + 1.0)
           + {_TXT16B_W[2]} * (nt / 100.0)
           + {_TXT16B_W[3]} * (nc / greatest(nt, 1.0) / 10.0)
           + {_TXT16B_W[4]} * (nd / greatest(nc, 1.0))
         ))), 6) AS quality_score
  FROM feats
)
SELECT doc_id, quality_score, quality_score >= 0.5 AS keep FROM scored
"""




# ---------------------------------------------------------------------------
# DD13 — URL-level dedup (RefinedWeb/CCNet-style): canonicalize messy URLs
# (scheme/www/default-port/fragment/tracking-param/trailing-slash/param-
# order noise) and dedup documents on the canonical key. The documents
# table carries no URL column, so the query SYNTHESIZES deterministic
# messy URLs from (source, doc_id) identically in both engines — what is
# under test is the canonicalization rule itself
# (operators/text.py canonicalize_url), not the synthesis.
# Scale: canonicalization is a per-row codegen map; the dedup is one
# hash-groupBy on the canonical key — the standard web-corpus shape.
# ---------------------------------------------------------------------------

#: Deterministic messy-URL synthesis shared (textually) with the oracle.
_DD13_URL_EXPR = (
    "concat('HTTPS://WWW.', source, '.Example.com',"
    " CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,"
    " '/Path/', CAST(doc_id % 7 AS STRING),"
    " CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,"
    " '?utm_source=feed&b=2&a=1',"
    " CASE WHEN doc_id % 5 = 0 THEN '&gclid=xyz' ELSE '' END,"
    " '#sec', CAST(doc_id % 4 AS STRING))"
)


def dd13_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import canonicalize_url

    docs = load_testdata(spark, sf_dir)["documents"]
    canon = docs.selectExpr(
        "doc_id", f"{_DD13_URL_EXPR} AS url"
    ).withColumn("canonical", canonicalize_url("url"))
    per_key = canon.groupBy("canonical").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc_id"),
    )
    host = F.substring_index(F.col("canonical"), "/", 1)
    return (
        per_key.groupBy(host.alias("host"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_unique_urls"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum(F.col("n_docs") - 1).cast("bigint").alias("n_dropped"),
            F.min("keeper_doc_id").alias("first_doc_id"),
        )
        .orderBy("host")
    )


def _dd13_sql() -> str:
    """dd13 oracle, generated: the percent-decode chain is SHARED with
    the Spark expression (operators/text.py pct_decode_unreserved_sql —
    identical forms, identical order, by construction), the rest mirrors
    canonicalize_url's rule stage by stage: fragment off, decode, parse,
    scheme-aware default-port strip, trailing-slash/path normalization,
    tracking-param filter + sort."""
    from ..operators.text import pct_decode_unreserved_sql

    decoded = pct_decode_unreserved_sql("regexp_replace(trim(url), '#.*$', '')")
    qs = (
        "array_to_string(list_sort(list_filter(string_split(q, '&'), "
        "x -> x <> '' AND NOT regexp_matches("
        "x, '^(utm_[a-z]+|gclid|fbclid|ref)='))), '&')"
    )
    return rf"""
WITH urls AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.com'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/Path/' || CAST(doc_id % 7 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         || '?utm_source=feed&b=2&a=1'
         || CASE WHEN doc_id % 5 = 0 THEN '&gclid=xyz' ELSE '' END
         || '#sec' || CAST(doc_id % 4 AS VARCHAR) AS url
  FROM documents
), u0 AS (
  SELECT doc_id, {decoded} AS u FROM urls
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
    regexp_replace(
      lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)),
      '^www\.', '') AS h,
    regexp_replace(
      regexp_extract(u, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
      '/+$', '') AS p,
    regexp_extract(u, '\?([^#]*)', 1) AS q
  FROM u0
), canon AS (
  SELECT doc_id,
    (CASE WHEN scheme = 'http' THEN regexp_replace(h, ':80$', '')
          WHEN scheme = 'https' THEN regexp_replace(h, ':443$', '')
          ELSE h END)
    || (CASE WHEN p = '' THEN '/' ELSE p END)
    || (CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END) AS canonical
  FROM parts
), per_key AS (
  SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_docs,
         MIN(doc_id) AS keeper_doc_id
  FROM canon GROUP BY 1
)
SELECT
  CASE WHEN strpos(canonical, '/') > 0
       THEN substr(canonical, 1, strpos(canonical, '/') - 1)
       ELSE canonical END AS host,
  CAST(COUNT(*) AS BIGINT) AS n_unique_urls,
  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
  CAST(SUM(n_docs - 1) AS BIGINT) AS n_dropped,
  MIN(keeper_doc_id) AS first_doc_id
FROM per_key
GROUP BY 1
ORDER BY host
"""


REGISTRY = {
    "dd1_exact_dedup": (dd1_exact_dedup, DD1_SQL),
    "dd2_jaccard_pairs": (dd2_jaccard_pairs, DD2_SQL),
    "dd3_minhash_lsh": (dd3_minhash_lsh, None),
    "dd9_cross_dedup": (dd9_cross_dedup, None),
    "dd4_simhash_pairs": (dd4_simhash_pairs, None),
    # Round-9 exact-regime siblings (VERDICT r8 item 4): the sketch
    # machinery in regimes where recall is PROVABLY 1.0, hash-checked.
    "dd3b_minhash_lsh_exact": (dd3b_minhash_lsh_exact, DD3B_SQL),
    "dd9b_cross_dedup_exact": (dd9b_cross_dedup_exact, DD9B_SQL),
    "dd4b_simhash_exact": (dd4b_simhash_exact, DD4B_SQL),
    "dd5_embedding_neardup": (dd5_embedding_neardup, DD5_SQL),
    "sim1_cosine_topk": (sim1_cosine_topk, SIM1_SQL),
    "sim2_lsh_topk": (sim2_lsh_topk, None),
    "sim3_ivf_topk": (sim3_ivf_topk, None),
    "txt1_token_stats": (txt1_token_stats, TXT1_SQL),
    "txt2_quality": (txt2_quality, TXT2_SQL),
    "txt3_langid": (txt3_langid, _langid_sql()),
    "txt4_fingerprint": (txt4_fingerprint, TXT4_SQL),
    "txt5_bpe_token_stats": (txt5_bpe_token_stats, TXT5_SQL),
    "f2_approx_distinct": (f2_approx_distinct, None),
    "f2b_approx_distinct_bounded": (f2b_approx_distinct_bounded, F2B_SQL),
    "mm1_features": (mm1_features, MM1_SQL),
    "mm2_frame_sample": (mm2_frame_sample, MM2_SQL),
    "mm3_audio_features": (mm3_audio_features, MM3_SQL),
    "mm4_video_features": (mm4_video_features, MM4_SQL),
    "mm5_media_metadata": (mm5_media_metadata, MM5_SQL),
    "dd6_decontaminate": (dd6_decontaminate, DD6_SQL),
    "dd7_cluster_dedup": (dd7_cluster_dedup, DD7_SQL),
    "smp1_stratified_sample": (smp1_stratified_sample, SMP1_SQL),
    "txt6_keywords": (txt6_keywords, TXT6_SQL),
    "dd8_clean_corpus": (dd8_clean_corpus, DD8_SQL),
    "txt7_training_filter": (txt7_training_filter, _txt7_sql()),
    "sim4_pq_topk": (sim4_pq_topk, None),
    "sim4b_pq_exact": (sim4b_pq_exact, SIM4B_SQL),
    "txt8_pii_redact": (txt8_pii_redact, _txt8_sql()),
    "txt9_chunk": (txt9_chunk, TXT9_SQL),
    "txt10_repetition": (txt10_repetition, TXT10_SQL),
    "smp2_weighted_sample": (smp2_weighted_sample, SMP2_SQL),
    "smp3_pack_sequences": (smp3_pack_sequences, None),
    "smp3b_pack_identity": (smp3b_pack_identity, SMP3B_SQL),
    "smp7_leakage_split": (smp7_leakage_split, _smp7_sql()),
    "txt11_vocab": (txt11_vocab, TXT11_SQL),
    "txt12_bm25_topk": (txt12_bm25_topk, TXT12_SQL),
    "txt13_lm_score": (txt13_lm_score, TXT13_SQL),
    "sim5_kmeans_clusters": (sim5_kmeans_clusters, None),
    "sim5b_kmeans_assign": (sim5b_kmeans_assign, SIM5B_SQL),
    "sim3b_ivf_exact": (sim3b_ivf_exact, SIM3B_SQL),
    "sim6_ivf_index_exact": (sim6_ivf_index_exact, SIM3B_SQL),
    "sim2b_lsh_exact": (sim2b_lsh_exact, SIM2B_SQL),
    "dd10_exact_substring": (dd10_exact_substring, DD10_SQL),
    "dd12_span_dedup": (dd12_span_dedup, DD12_SQL),
    "f5_heavy_hitters": (f5_heavy_hitters, None),
    "f5b_heavy_hitters_exact": (f5b_heavy_hitters_exact, F5B_SQL),
    "smp4_temperature_mixture": (smp4_temperature_mixture, SMP4_SQL),
    "smp6_token_budget_sample": (smp6_token_budget_sample, SMP6_SQL),
    "smp8_resample_to_target": (smp8_resample_to_target, _smp8_sql()),
    "txt15_bpe_train": (txt15_bpe_train, None),
    "txt15b_bpe_first_merge": (txt15b_bpe_first_merge, TXT15B_SQL),
    "f6_histogram": (f6_histogram, F6_SQL),
    "txt14_nb_langid": (txt14_nb_langid, TXT14_SQL),
    "f3_approx_percentiles": (f3_approx_percentiles, None),
    "f3b_approx_percentiles_bounded": (f3b_approx_percentiles_bounded, F3B_SQL),
    "dd11_semdedup": (dd11_semdedup, DD11_SQL),
    "smp5_fixed_k_sample": (smp5_fixed_k_sample, SMP5_SQL),
    "f8_cms_counts": (f8_cms_counts, F8_SQL),
    "txt16_logreg_quality": (txt16_logreg_quality, None),
    "txt16b_logreg_score": (txt16b_logreg_score, TXT16B_SQL),
    "f7_drift_psi": (f7_drift_psi, F7_SQL),
    "dd13_url_dedup": (dd13_url_dedup, _dd13_sql()),
}
