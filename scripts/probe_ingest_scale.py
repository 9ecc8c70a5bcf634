#!/usr/bin/env python
"""Ingest-path scale probe: per-batch dedup cost vs corpus size.

Measures the dedup_insert ingest core (`plans.ingest.dedup_ingest` — the
per-batch work of both the batch strategy and the streaming ingest,
INCLUDING the key anti-join and the replay marker), the once-per-
invocation heal (`dedup_heal`, nothing to heal), and, separately, the
bare dedup core (fp anti-join + indexed near-dup, no writes) against
corpora of increasing size with a fixed 50k-doc batch. The claim under
test: per-batch cost scales with the BATCH, not the corpus — the
banded-index probe is corpus-size-independent, and the key probes are
skinny broadcast-filtered scans.

Usage: python scripts/probe_ingest_scale.py [corpus_dir ...]
Defaults: .scratch/dedup500k and .scratch/dedup5000k (built by
scripts/build_dedup_corpus.py). Prints one JSON line per corpus.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dbt_analytics_spark.operators import dedup  # noqa: E402
from dbt_analytics_spark.plans.ingest import (  # noqa: E402
    companions,
    dedup_heal,
    dedup_ingest,
)
from dbt_analytics_spark.session import get_spark  # noqa: E402

DIRS = sys.argv[1:] or [
    "/root/repo/.scratch/dedup500k",
    "/root/repo/.scratch/dedup5000k",
]
BATCH_N = 50_000


def main() -> None:
    from dbt_analytics_spark.bench_gate import wait_for_quiet

    load_gate = wait_for_quiet()  # quiet host BEFORE any timing starts
    spark = get_spark("ingest-scale-probe")
    for d in DIRS:
        corpus = spark.read.parquet(os.path.join(d, "documents.parquet"))
        n_corpus = corpus.count()
        tbl = f"probe_ingest_{uuid.uuid4().hex[:8]}"

        # Target + companions as dedup_insert/stream ingest maintain them.
        t0 = time.time()
        corpus.write.saveAsTable(tbl)
        sh, bd = dedup.build_lsh_index(corpus, "doc_id", "text")
        sh.write.saveAsTable(f"{tbl}__lsh_shingles")
        bd.write.saveAsTable(f"{tbl}__lsh_bands")
        spark.table(tbl).select(F.md5(F.col("text")).alias("__fp")).distinct() \
            .write.saveAsTable(f"{tbl}__dedup_fps")
        t_bootstrap = time.time() - t0

        # Fixed-size batch: 80% fresh ids with fresh-ish text (suffix keeps
        # them out of the near-dup radius), 20% exact dups of corpus rows.
        batch = (
            corpus.filter(F.col("doc_id") % (n_corpus // BATCH_N) == 3)
            .limit(BATCH_N)
            .withColumn("doc_id", F.col("doc_id") + 100_000_000)
            .withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 5 == 0, F.col("text")  # exact dup
                ).otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" fresh suffix token "),
                        F.col("doc_id").cast("string"),
                    )
                ),
            )
            .localCheckpoint(eager=True)
        )
        n_batch = batch.count()

        # (a) bare dedup core, no replay guards / marker / fp append.
        idx = (
            spark.table(f"{tbl}__lsh_shingles"),
            spark.table(f"{tbl}__lsh_bands"),
        )
        seen = spark.table(f"{tbl}__dedup_fps")
        t0 = time.time()
        fresh = (
            batch.withColumn("__fp", F.md5(F.col("text")))
            .join(seen, "__fp", "left_anti")
            .drop("__fp")
        )
        surv = dedup.dedup_against_corpus(
            fresh, spark.table(tbl), "doc_id", "text",
            threshold=0.5, corpus_index=idx,
        )
        n_surv = surv.count()
        t_bare = time.time() - t0

        # (b) the once-per-invocation heal: one skinny anti-join of the
        # target keys against the stored band doc ids (nothing to heal).
        t0 = time.time()
        dedup_heal(spark, tbl, "doc_id", "text", threshold=0.5)
        t_heal = time.time() - t0

        # (c) the full per-batch core, timed end-to-end including the
        # target append, the three companion appends and the marker.
        t0 = time.time()
        dedup_ingest(spark, tbl, batch, "doc_id", "text", threshold=0.5)
        t_guarded = time.time() - t0

        # (d) replay of the committed batch (marker fast path).
        t0 = time.time()
        dedup_ingest(spark, tbl, batch, "doc_id", "text", threshold=0.5)
        t_replay = time.time() - t0

        print(
            json.dumps(
                {
                    "load_gate": load_gate,
                    "corpus": n_corpus,
                    "batch": n_batch,
                    "survivors_bare": n_surv,
                    "bootstrap_sec": round(t_bootstrap, 1),
                    "bare_batch_sec": round(t_bare, 1),
                    "heal_sec": round(t_heal, 1),
                    "guarded_batch_sec": round(t_guarded, 1),
                    "replay_fastpath_sec": round(t_replay, 2),
                }
            ),
            flush=True,
        )
        for t in (tbl, *companions(tbl, "dedup_insert")):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.stop()


if __name__ == "__main__":
    main()
