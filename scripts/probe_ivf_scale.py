#!/usr/bin/env python
"""IVF ingest scale probe: per-batch index-maintenance cost vs index size.

Measures the `ivf_insert` ingest core (`plans.ingest.ivf_ingest` — the
per-batch work of both the batch strategy and the streaming ingest) against persistent indexes of increasing size with
a fixed 50k-vector batch. The claim under test: per-batch cost scales
with the BATCH — the only corpus-size-dependent term is the idempotence
anti-join's skinny id-column scan of the target (the same guard class
the dedup probe priced), and the assignment itself is one Arrow pass
over the batch against broadcast centroids. Also times the replay fast
path (the whole batch anti-joins away) and a 3-query partition-pruned
probe at each size.

Vectors are synthesized deterministically (md5-derived doubles, dim 16)
— no RNG, re-runs are bit-identical.

Usage: python scripts/probe_ivf_scale.py [n_base ...]
Defaults: 500_000 and 5_000_000. Prints one JSON line per size.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dbt_analytics_spark.operators.similarity import (  # noqa: E402
    ivf_index_topk,
)
from dbt_analytics_spark.plans.ingest import (  # noqa: E402
    companions,
    ivf_ingest,
)
from dbt_analytics_spark.session import get_spark  # noqa: E402

SIZES = [int(a) for a in sys.argv[1:]] or [500_000, 5_000_000]
BATCH_N = 50_000
DIM = 16
N_CELLS = 64


def synth(spark, lo: int, hi: int):
    """Deterministic dim-16 vectors for ids [lo, hi): each component is a
    hash-derived double in [-0.5, 0.5)."""
    comps = ", ".join(
        f"(conv(substr(md5(concat(cast(id as string), '_{d}')), 1, 6), 16, 10)"
        f" / 16777216.0 - 0.5)"
        for d in range(DIM)
    )
    return spark.range(lo, hi).selectExpr(
        "id AS vec_id", f"array({comps}) AS embedding"
    )


def main() -> None:
    from dbt_analytics_spark.bench_gate import wait_for_quiet

    load_gate = wait_for_quiet()  # quiet host BEFORE any timing starts
    spark = get_spark("ivf-scale-probe")
    out = []
    for n_base in SIZES:
        tbl = f"ivfprobe_{uuid.uuid4().hex[:8]}"
        t0 = time.monotonic()
        ivf_ingest(
            spark, tbl, synth(spark, 0, n_base), "vec_id", n_cells=N_CELLS
        )
        bootstrap_s = time.monotonic() - t0

        batch = synth(spark, n_base, n_base + BATCH_N).localCheckpoint()
        t0 = time.monotonic()
        ivf_ingest(spark, tbl, batch, "vec_id", n_cells=N_CELLS)
        append_s = time.monotonic() - t0

        # Replay with the commit marker intact (round 10): the content
        # fingerprint matches and the batch returns before the corpus-id
        # anti-join — one batch-sized aggregate + a tiny marker lookup.
        t0 = time.monotonic()
        ivf_ingest(spark, tbl, batch, "vec_id", n_cells=N_CELLS)
        replay_s = time.monotonic() - t0

        # Replay with the marker LOST (crash between append and marker
        # commit): the guarded anti-join path — the pre-r10 replay cost,
        # kept measured so the fallback's growth term stays priced.
        spark.sql(f"DROP TABLE IF EXISTS {companions(tbl, 'ivf_insert')[-1]}")
        t0 = time.monotonic()
        ivf_ingest(spark, tbl, batch, "vec_id", n_cells=N_CELLS)
        replay_guarded_s = time.monotonic() - t0

        C = np.asarray(
            [
                list(r["centroid"])
                for r in spark.table(f"{tbl}__ivf_centroids")
                .orderBy("cell")
                .collect()
            ]
        )
        queries = synth(spark, 10**9, 10**9 + 3)
        t0 = time.monotonic()
        n_hits = ivf_index_topk(
            spark.table(tbl), queries, C, k=10, n_probe=4
        ).count()
        probe_s = time.monotonic() - t0

        n = spark.table(tbl).count()
        rec = {
            "index_rows": n,
            "batch_rows": BATCH_N,
            "n_cells": N_CELLS,
            "bootstrap_s": round(bootstrap_s, 2),
            "append_batch_s": round(append_s, 2),
            "replay_noop_s": round(replay_s, 2),
            "replay_guarded_s": round(replay_guarded_s, 2),
            "probe_3q_np4_s": round(probe_s, 2),
            "probe_hits": n_hits,
            "loadavg": os.getloadavg()[0],
        }
        rec["load_gate"] = load_gate
        print(json.dumps(rec), flush=True)
        out.append(rec)
        for t in (tbl, *companions(tbl, "ivf_insert")):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


if __name__ == "__main__":
    main()
