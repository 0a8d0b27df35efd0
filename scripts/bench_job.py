"""Standalone spark-submit job: build index + run BM25 query set.

Launched via ``spark-submit --master local[N] --py-files <pkg.zip>``
(the north rule's launch mode) by scripts/scaling_bench.py at two
parallelism levels. Prints one JSON line with throughput, latency
percentiles, and a hash of the top-k output (parallelism-invariance
evidence, FIXTURES.md §5 #6).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--salt-threshold", type=int, default=5000)
    ap.add_argument("--builds", type=int, default=2,
                    help="in-session build repetitions: build 1 pays the "
                         "per-SESSION floors (Janino/whole-stage-codegen "
                         "compilation, shuffle+codec init, Python worker "
                         "spawn — one-time costs a long-lived cluster "
                         "amortizes to zero over a 100 TB build); the LAST "
                         "build is the steady-state measurement the "
                         "scaling rule grades.  Both are reported.")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from codegraph_rust_spark.config import IndexConfig
    from codegraph_rust_spark.operators.oracle import load_queries
    from codegraph_rust_spark.operators.topk import InvertedIndex
    from codegraph_rust_spark.plans.build import build_index

    spark = (
        SparkSession.builder.appName(f"scaling-bench-{args.cpus}")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # 4m splits: the tokenized ledger at this corpus size is
        # ~270MB — 16m splits gave the postings encode scan 17 tasks,
        # which wave-quantizes badly on 16 cores (17 = 16 + 1 ⇒ the
        # second wave runs one task); 4m yields ~68 splits at BOTH
        # levels, keeping work units identical while letting 16 cores
        # pack 4+ waves.  The production analog: size splits so every
        # executor core gets several waves of the hot scan.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # reused workers keep the Zipf stem-memo warm across tasks
        # (8x tokenize speedup measured); MALLOC_ARENA_MAX=2 (set by
        # the launcher) contains worker heap fragmentation
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    cfg = IndexConfig(
        # FIXED task count across parallelism levels: identical work
        # units at N and 4N, only concurrency differs (a per-level
        # cpus*2 count would change task sizes and Arrow batch shapes
        # between the levels being compared).  The posting-merge stage
        # is the exception: its width is quantized to the slots
        # (merge_task_count), e.g. ~51M postings merge in 22 tasks at
        # local[2] and 24 at local[8], with identical postings output.
        input_partitions=64,
        salt_df_threshold=args.salt_threshold,
        max_salts=16,
    )
    pages = spark.read.parquet(os.path.join(args.corpus, "pages.parquet"))

    # No synthetic warm-up job: build 1 (below) IS the session warmer —
    # it exercises the exact plans (tokenize mapInPandas, explode+agg,
    # encode shuffle, partitioned parquet sink) whose Janino/codegen
    # compilation, shuffle/codec init, and Python-worker spawn make up
    # the per-session floor (measured 5-12s per distinct plan shape).
    from codegraph_rust_spark.telemetry import (
        alu_calibration,
        cpu_mhz,
        sample as tele_sample,
        steal_pct,
    )

    build_walls = []
    build_steal = []  # hypervisor steal% during each build — the
    # contamination record the scaling protocol grades against (a
    # noisy-neighbor burst inflates the wall; the steal% proves it)
    metrics = None
    for i in range(max(1, args.builds)):
        bdir = args.index_dir if i == args.builds - 1 else args.index_dir + f"_w{i}"
        s0 = tele_sample()
        t0 = time.time()
        metrics = build_index(spark, pages, bdir, cfg, resume=False)
        build_walls.append(round(time.time() - t0, 3))
        build_steal.append(steal_pct(s0, tele_sample()))
        if bdir != args.index_dir:
            shutil.rmtree(bdir, ignore_errors=True)
    build_s = build_walls[-1]
    # steady-state throughput: recompute from the measured warm wall
    metrics["docs_per_sec"] = round(metrics["n_docs"] / build_s, 1)
    metrics["postings_per_sec"] = round(metrics["total_postings"] / build_s, 1)

    idx = InvertedIndex(spark, args.index_dir, cfg)
    queries = load_queries(os.path.join(args.corpus, "queries.tsv"))

    t0 = time.time()
    rows = idx.topk_batch(queries, k=10, mode="taat").collect()
    batch_s = time.time() - t0

    # deterministic output hash across parallelism levels (scores
    # rounded to 1e-9 to absorb float-sum association noise)
    canon = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
    )
    topk_hash = hashlib.sha256(json.dumps(canon).encode()).hexdigest()[:16]

    lat = []
    for qid, qtext in queries[:10]:
        t0 = time.time()
        idx.topk_batch([(qid, qtext)], k=10, mode="maxscore").collect()
        lat.append(time.time() - t0)
    lat.sort()

    print(
        "BENCH_JOB_RESULT "
        + json.dumps(
            {
                "cpus": args.cpus,
                "build_s": round(build_s, 3),
                "build_walls": build_walls,
                "build_steal_pct": build_steal,
                "load1": round(os.getloadavg()[0], 2),
                "cpu_mhz": cpu_mhz(),
                "alu_calibration_s": alu_calibration(),
                "docs_per_sec": metrics["docs_per_sec"],
                "postings_per_sec": metrics["postings_per_sec"],
                "n_docs": metrics["n_docs"],
                "total_postings": metrics["total_postings"],
                "bm25_batch_s": round(batch_s, 3),
                "bm25_p50_s": round(lat[len(lat) // 2], 3),
                "bm25_p95_s": round(lat[-1], 3),
                "topk_hash": topk_hash,
                "stages": {
                    k: v["wall_s"] for k, v in metrics["stages"].items()
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
