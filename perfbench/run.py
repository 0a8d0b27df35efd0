"""Layered benchmark of the BM25 engine: index build, query, incremental
update and vector search, on one ``local[N]`` Spark session driven by
one closed-loop client.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Workloads (see ``perfbench/DESIGN.md``):

* ``search`` — set-up builds the BM25 index, the oracle answers and the
  HNSW layer graphs (layer 0 is the exact NSW graph); the timed cycle
  runs CLI-path queries, ``topk_batch`` calls and one NSW and one
  HNSW search batch.  The query result cache is never used.
* ``update`` — set-up builds the BM25 index and copies it; the timed
  cycle is a burst of ``topk_batch_cached`` queries repeating a small
  pool (which fills the result cache), a ~1% delta through
  ``incremental_update``, the same burst over the new snapshot and
  ``topk_batch`` calls over it.

Each run times exactly one cycle, so every run measures the same work
however fast the engine is; ``--seconds`` does not change it.  Every
result is checked against ``operators/oracle.py`` outside the timed
ops.  The last line of stdout is the result JSON; the line before it is
the full report.
``--trace 1`` tags each traced call with a Spark job group, reports the
per-layer metrics instead of the end-to-end ones, and writes the spans
to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

K = 10
# a failed query counts as missing any latency limit
LATENCY_LIMIT_S = 60.0

# Two cores, not four: as fast at this size (the stages are bound by
# task floors), with half the CPU seconds and less memory, and the two
# free cores keep the driver JVM and this client off the task threads.
SIZES = {
    "full": {"cores": 2, "driver_mem": "2g", "docs": 1000, "reservoir": 100,
             "vectors": 1000, "cli": 6, "batch": 16, "batches": 2, "burst": 7,
             "vec_batch": 16},
    # self-test size: every phase once, on toy inputs
    "tiny": {"cores": 2, "driver_mem": "1g", "docs": 200, "reservoir": 20,
             "vectors": 300, "cli": 2, "batch": 3, "batches": 1, "burst": 3,
             "vec_batch": 4},
}
# Each burst asks for the pool's queries in this order: Zipf-popular
# repeats of a small pool (far below the cache's 128 entries).  The
# burst before the splice fills the cache; in the one after it each
# first request must miss and every repeat hits.
BURST = (0, 1, 0, 2, 0, 3, 1)
GRAPH_BUILDS = 3


def load_spec() -> dict:
    """``BENCHMARK.json``: the workload names and the metric names and
    units the result line must carry."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _engine_importable() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import codegraph_rust_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return False
    return True


def start_session(cores: int, mem: str, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are forked under the JVM and inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", mem)
        # no hsperfdata file: it would go to /tmp whatever java.io.tmpdir says
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, end the JVM (and the Python daemon and workers
    under it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def _files(root: str) -> dict[str, tuple]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _tree_bytes(root: str) -> int:
    return sum(v[2] for v in _files(root).values())


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, size: dict, work: str):
        self.args, self.size, self.work = args, size, work
        self.workload, self.seed, self.traced = args.workload, args.seed, bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list] = {}
        self.counts = dict.fromkeys(("stale_hits", "cache_hits", "cache_misses",
                                     "changed_docs", "bytes_written", "ledger_bytes",
                                     "postings_bytes"), 0)
        self.setup_parts: dict[str, float] = {}
        self.query_spans: list[tuple] = []
        self.partials = (0.0, 0.0)
        self.ann_build_s = 0.0
        self._op_wall = 0.0
        self._op_cpu = 0.0

    # ------------------------------------------------------- accounting

    def add(self, name: str, value) -> None:
        self.samples.setdefault(name, []).append(value)

    def _cpu_s(self) -> float:
        """CPU seconds of this process, the driver JVM and everything
        under it (the Python daemon and workers)."""
        from tracing import tree_cpu_s

        return time.process_time() + tree_cpu_s(self.jvm_pid)

    def op(self, name: str, fn):
        """Run and time one operation → (result, wall).  An exception
        counts as a failed op and gives result None."""
        self.attempted += 1
        cpu = self._cpu_s()
        t = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            out = None
        wall = time.perf_counter() - t
        self._op_wall += wall
        self._op_cpu += self._cpu_s() - cpu
        return out, wall

    def mismatch(self, what: str, errs: list[str]) -> None:
        if errs:
            self.failed += 1
            print(f"perfbench: {what} is wrong: {errs[:3]}", file=sys.stderr)

    # ----------------------------------------------------------- set-up

    def setup(self) -> None:
        from codegraph_rust_spark.config import IndexConfig
        from codegraph_rust_spark.functions import nsw
        from codegraph_rust_spark.operators.topk import InvertedIndex
        from codegraph_rust_spark.plans.build import build_index

        import checks
        import inputs
        from tracing import Tracer

        s, w, seed = self.size, self.work, self.seed
        t = time.perf_counter()
        self.spark = start_session(s["cores"], s["driver_mem"], w)
        self.setup_parts["session_s"] = time.perf_counter() - t
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        run_id = f"{self.workload}-s{seed}-t{int(self.traced)}-{os.getpid()}"
        self.tracer = Tracer(self.spark, self.traced, run_id)
        span = self.tracer.span

        t = time.perf_counter()
        pages = inputs.make_corpus(os.path.join(w, "corpus"), s["docs"], seed)
        reservoir = inputs.make_corpus(os.path.join(w, "reservoir"), s["reservoir"],
                                       seed + 7919)
        self.corpus = inputs.Corpus(pages, reservoir)
        b = s["batch"]
        qs = inputs.query_stream(seed, b * s["batches"], salt=2)
        self.batches = [qs[i:i + b] for i in range(0, len(qs), b)]
        if self.workload == "search":
            self.cli_queries = inputs.query_stream(seed, s["cli"], salt=1)
            self.vec_dir = os.path.join(w, "vectors")
            self.x = inputs.make_embeddings(self.vec_dir, s["vectors"], seed)
            self.vec_qids = inputs.vector_qids(seed, s["vectors"], s["vec_batch"])
        else:
            self.pool = inputs.query_stream(seed, max(BURST[:s["burst"]]) + 1, salt=3)
        self.setup_parts["corpus_gen_s"] = time.perf_counter() - t

        self.cfg = IndexConfig(input_partitions=s["cores"], term_buckets=8,
                               salt_df_threshold=max(20, s["docs"] // 10), max_salts=8)
        self.index_dir = os.path.join(w, "index")
        with span("plans.build:build_index") as rec:
            t = time.perf_counter()
            self.build_metrics = build_index(self.spark, self.spark.read.parquet(pages),
                                             self.index_dir, self.cfg, resume=False)
            self.build_s = time.perf_counter() - t
        self.build_span = rec
        self.setup_parts["index_build_s"] = self.build_s
        self.n_docs = len(self.corpus.rows)
        self.attempted += 1  # the build counts as an operation
        if self.build_metrics.get("n_docs") != self.n_docs:
            self.mismatch("build", [f"n_docs {self.build_metrics.get('n_docs')} != {self.n_docs}"])
        self.index_bytes = _tree_bytes(self.index_dir)

        if self.workload == "update":
            self.upd_dir = os.path.join(w, "index_upd")
            shutil.copytree(self.index_dir, self.upd_dir)
            t = time.perf_counter()
            self.want = checks.oracle(self.corpus.docs(), self.pool, self.cfg, K)
            self.setup_parts["oracle_s"] = time.perf_counter() - t
            return

        t = time.perf_counter()
        docs = self.corpus.docs()
        self.want = checks.oracle(docs, self.cli_queries + sum(self.batches, []), self.cfg, K)
        self.urls = {did: u for (did, _), (u, _) in zip(checks.doc_ids(docs), docs)}
        self.setup_parts["oracle_s"] = time.perf_counter() - t

        # the exact layer-0 graph (which NSW search also uses) and the
        # upper HNSW layers.  Graphs are cached per directory for the
        # session, so each build gets its own copy of the table; one ~2 s
        # build is too short to time alone, and the median of the builds
        # is reported.  The searches use the last copy.
        t0 = time.perf_counter()
        walls = []
        for i in range(GRAPH_BUILDS):
            vec_dir = f"{self.vec_dir}{i}"
            shutil.copytree(self.vec_dir, vec_dir)
            with span("functions.nsw:build_hnsw_graphs"):
                t = time.perf_counter()
                edges = nsw.build_hnsw_graphs(self.spark, vec_dir)
                walls.append(time.perf_counter() - t)
            self.attempted += 1
            if edges.get(0) != s["vectors"] * nsw.NSW_M:
                self.mismatch("graph", [f"{edges} edges for {s['vectors']} vectors"])
        self.vec_dir = vec_dir
        self.ann_build_s = statistics.median(walls)
        self.setup_parts["graph_build_s"] = time.perf_counter() - t0
        self.idx = InvertedIndex(self.spark, self.index_dir, self.cfg)

    # ---------------------------------------------------- search phases

    def cli_query(self, q: str) -> None:
        """``python -m codegraph_rust_spark query --urls`` without the
        process start: topk_batch(maxscore), then with_urls."""
        import checks

        idx, span = self.idx, self.tracer.span
        if not self.traced:
            rows, wall = self.op("query", lambda: idx.with_urls(
                idx.topk_batch([(0, q)], k=K, mode="maxscore")).collect())
        else:
            # split so each layer gets its own span; with_urls runs over
            # the collected top-k instead of re-planning the query
            from codegraph_rust_spark.operators.topk import TOPK_SCHEMA

            def traced():
                with span("textkit:analyze") as a:
                    idx.analyze_queries([(0, q)])
                with span("operators.topk:plan") as p:
                    df = idx.topk_batch([(0, q)], k=K, mode="maxscore")
                with span("operators.topk:exec") as e:
                    got = df.collect()
                with span("operators.topk:with_urls") as u:
                    rows = idx.with_urls(self.spark.createDataFrame(got, TOPK_SCHEMA)).collect()
                self.query_spans.append((a, p, e, u))
                return rows

            rows, wall = self.op("query", traced)
        self.add("query_s", wall if rows is not None else LATENCY_LIMIT_S)
        if rows is not None:
            self.mismatch(f"query {q!r}", checks.topk_mismatches(
                [r.asDict() for r in rows], self.want[q], self.urls))

    def batch(self, idx, qs: list[str], want: dict) -> None:
        import checks

        with self.tracer.span("operators.topk:batch"):
            rows, wall = self.op("batch", lambda: idx.topk_batch(
                list(enumerate(qs)), k=K, mode="maxscore").collect())
        if rows is None:
            return
        self.add("batch", (len(qs), wall))
        got = checks.by_qid(rows)
        self.mismatch("batch", [e for qid, q in enumerate(qs)
                                for e in checks.topk_mismatches(got.get(qid, []), want[q])])

    def vector(self, qids: list[int]) -> None:
        import checks
        from codegraph_rust_spark.functions import nsw

        searches = (
            ("nsw", lambda: nsw.nsw_search_batch(self.spark, self.vec_dir, qids, kind="exact")),
            ("hnsw", lambda: nsw.hnsw_search_batch(self.spark, self.vec_dir, qids)),
        )
        for kind, fn in searches:
            with self.tracer.span(f"functions.nsw:{kind}_search_batch") as rec:
                rows, wall = self.op(kind, lambda: fn().collect())
            if rows is None:
                continue
            self.add(f"{kind}_s", wall)
            self.add("vector", (len(qids), wall))
            if rec is not None:
                self.add("vector_spans", rec)
            self.mismatch(f"{kind} batch", checks.vector_mismatches(
                [r.asDict() for r in rows], self.x, qids, nsw.NSW_K))

    # ---------------------------------------------------- update phases

    def update_round(self) -> None:
        """Burst over the current snapshot, which fills the result cache;
        a ~1% delta through ``incremental_update``; the same burst over
        the new snapshot, which must miss before it hits; batches."""
        from codegraph_rust_spark.streaming.incremental import (
            detect_changes,
            incremental_update,
        )

        import checks

        span = self.tracer.span
        if self.burst(self.want) is None:
            return
        snap = os.path.join(self.work, "snapshot.parquet")
        expect = self.corpus.apply_delta(self.seed, 0, snap)
        before = _files(self.upd_dir)
        pages_new = self.spark.read.parquet(snap)
        if self.traced:
            with span("streaming.incremental:detect_changes"):
                _, wall = self.op("detect_changes", lambda: detect_changes(
                    self.spark, pages_new, self.upd_dir, self.cfg)
                    .groupBy("change").count().collect())
            self.add("detect_s", wall)
        with span("streaming.incremental:incremental_update"):
            m, wall = self.op("update", lambda: incremental_update(
                self.spark, pages_new, self.upd_dir, self.cfg))
        if m is None:
            return
        self.add("update_s", wall)
        got = {k: int(m["changes"].get(k, 0)) for k in expect}
        errs = [] if got == expect else [f"changes {got} != {expect}"]
        if m.get("n_docs") != len(self.corpus.rows):
            errs.append(f"n_docs {m.get('n_docs')} != {len(self.corpus.rows)}")
        self.mismatch("update round", errs)

        written = {p: v[2] for p, v in _files(self.upd_dir).items() if before.get(p) != v}

        def under(table: str) -> int:
            return sum(b for p, b in written.items()
                       if os.path.relpath(p, self.upd_dir).split(os.sep)[0] == table)

        self.counts["changed_docs"] += sum(expect.values())
        self.counts["bytes_written"] += sum(written.values())
        self.counts["ledger_bytes"] += under("tokenized")
        self.counts["postings_bytes"] += under("postings")
        stages = m.get("stages", {})
        self.add("inc_dictionary_s", stages.get("dictionary", {}).get("wall_s", 0.0))
        self.add("inc_postings_s", stages.get("postings", {}).get("wall_s", 0.0))
        self.add("touched_tbuckets", len(m.get("touched_tbuckets", ())))

        self.want = checks.oracle(self.corpus.docs(), self.pool + sum(self.batches, []),
                                  self.cfg, K)
        uidx = self.burst(self.want)
        for qs in self.batches if uidx is not None else ():
            self.batch(uidx, qs, self.want)

    def burst(self, want: dict):
        """Pool queries through the result cache on a fresh index handle.
        After the splice every pool query is cached from before it, so a
        hit on a query not yet served in this burst is a stale hit.
        Returns the index handle."""
        from codegraph_rust_spark.functions.qcache import SERVICE_CACHE
        from codegraph_rust_spark.operators.topk import InvertedIndex

        import checks

        draws = [self.pool[i] for i in BURST[:self.size["burst"]]]
        with self.tracer.span("functions.qcache:burst"):
            uidx, _ = self.op("open index", lambda: InvertedIndex(
                self.spark, self.upd_dir, self.cfg))
            if uidx is None:
                return None
            served: set[str] = set()
            for q in draws:
                h0, m0 = SERVICE_CACHE.hits, SERVICE_CACHE.misses
                rows, wall = self.op("cached query", lambda: uidx.topk_batch_cached(
                    [(0, q)], k=K, mode="maxscore"))
                hit = SERVICE_CACHE.hits > h0
                self.counts["cache_hits"] += SERVICE_CACHE.hits - h0
                self.counts["cache_misses"] += SERVICE_CACHE.misses - m0
                if rows is None:
                    self.add("query_s", LATENCY_LIMIT_S)
                    continue
                if not hit:
                    self.add("query_s", wall)
                elif q not in served:
                    self.counts["stale_hits"] += 1
                    self.mismatch("cache", [f"hit for {q!r} before any miss since the splice"])
                served.add(q)
                self.mismatch(f"cached query {q!r}", checks.topk_mismatches(
                    [r.asDict() for r in rows], want[q]))
        return uidx

    # ------------------------------------------------------------ cycle

    def cycle(self) -> None:
        """The timed cycle; ``cycle_s`` / ``cycle_cpu_s`` sum the wall
        and CPU time of its ops."""
        self._op_wall = self._op_cpu = 0.0
        with self.tracer.span("bench:cycle"):
            if self.workload == "update":
                self.update_round()
            else:
                for q in self.cli_queries:
                    self.cli_query(q)
                for qs in self.batches:
                    self.batch(self.idx, qs, self.want)
                self.vector(self.vec_qids)
        self.cycle_s, self.cycle_cpu_s = self._op_wall, self._op_cpu

    def partial_stages(self) -> None:
        """Traced run only: each public postings stage over the
        committed ledger, into a noop sink."""
        from codegraph_rust_spark.operators.postings import (
            encode_partials,
            head_term_map,
            merge_partials,
        )

        span = self.tracer.span
        tok = self.spark.read.parquet(os.path.join(self.index_dir, "tokenized"))
        dic = self.spark.read.parquet(os.path.join(self.index_dir, "dictionary"))

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def run():
            with span("operators.postings:encode_partials"):
                t = time.perf_counter()
                tids, ns = head_term_map(dic, self.cfg)
                noop(encode_partials(tok, tids, ns, self.cfg))
                enc = time.perf_counter() - t
            with span("operators.postings:merge_partials"):
                t = time.perf_counter()
                est = int(self.build_metrics.get("total_postings", 1))
                noop(merge_partials(encode_partials(tok, tids, ns, self.cfg), self.cfg,
                                    est_rows=est))
                both = time.perf_counter() - t
            # the merge stage re-runs the encode it consumes
            return enc, max(both - enc, 0.0)

        self.partials = self.op("partial stages", run)[0] or self.partials

    def execute(self) -> None:
        from codegraph_rust_spark import telemetry

        import tracing

        t = time.perf_counter()
        self.setup()
        self.setup_s = time.perf_counter() - t

        tele0 = telemetry.sample()
        t0 = time.perf_counter()
        self.cycle()
        self.timed_s = time.perf_counter() - t0
        tele1 = telemetry.sample()
        self.telemetry = {"steal_pct": telemetry.steal_pct(tele0, tele1) or 0.0,
                          "load1": tele1["load1"] or 0.0}
        if self.traced:
            self.partial_stages()
            self.tracer.read_status_store()
        self.rss = tracing.peak_rss_mb(self.jvm_pid)

    # ---------------------------------------------------------- metrics

    def named_metrics(self) -> dict:
        """The metrics of this workload under their plain names (the
        report line); the result line takes them from ``end_to_end``."""
        S = self.samples
        q = S.get("query_s", [])
        batch_n = sum(n for n, _ in S.get("batch", []))
        batch_w = sum(w for _, w in S.get("batch", []))
        out = {
            "setup_s": self.setup_s,
            "build_docs_per_s": self.n_docs / self.build_s,
            "index_bytes_per_doc": self.index_bytes / self.n_docs,
            "query_p50_s": statistics.median(q) if q else LATENCY_LIMIT_S,
            # interpolated over the run's 6 samples: a tail estimate,
            # not a percentile with ten samples beyond it
            "query_p90_s": (statistics.quantiles(q, n=10, method="inclusive")[-1]
                            if len(q) > 1 else (q or [LATENCY_LIMIT_S])[0]),
            "query_batch_qps": batch_n / batch_w if batch_w else 0.0,
            "peak_rss_mb": self.rss["total_mb"],
            "failed_ops_ratio": self.failed / max(self.attempted, 1),
        }
        if self.workload == "search":
            vec_n = sum(n for n, _ in S.get("vector", []))
            vec_w = sum(w for _, w in S.get("vector", []))
            out["ann_build_s"] = self.ann_build_s
            out["vector_qps"] = vec_n / vec_w if vec_w else 0.0
        else:
            changed = self.counts["changed_docs"]
            out["update_s"] = _median(S.get("update_s", []))
            out["update_bytes_written_per_changed_doc"] = (
                self.counts["bytes_written"] / changed if changed else 0.0)
        return out

    def end_to_end(self, named: dict, names) -> dict:
        """The end-to-end metrics ``names``, which both workloads have."""
        write = named["ann_build_s"] if self.workload == "search" else named["update_s"]
        out = dict(named, write_s=write, cycle_s=self.cycle_s, cycle_cpu_s=self.cycle_cpu_s)
        return {k: out[k] for k in names}

    def layer_metrics(self, named: dict, overhead_s: float) -> dict:
        """Per-layer metrics (traced run).  A layer the workload does
        not exercise reads 0."""
        tr, S, bm = self.tracer, self.samples, self.build_metrics
        stages = bm.get("stages", {})
        tok_s = stages.get("tokenized", {}).get("wall_s", 0.0)
        dict_s = stages.get("dictionary", {}).get("wall_s", 0.0)
        post_s = stages.get("postings", {}).get("wall_s", 0.0)
        build = tr.counters(self.build_span)
        run_s = build["executorRunTime"] / 1000.0
        spans = self.query_spans
        topk = [{k: v + w for (k, v), w in zip(tr.counters(p).items(), tr.counters(e).values())}
                for _a, p, e, _u in spans]

        def dur(r) -> float:
            return r["end"] - r["start"]

        hits, misses = self.counts["cache_hits"], self.counts["cache_misses"]
        rounds = len(S.get("update_s", []))

        def cat_bytes(table: str) -> int:
            return _tree_bytes(os.path.join(self.index_dir, table))

        return {
            "textkit.tokenize_s": tok_s,
            "textkit.tokenize_docs_per_s": bm["n_docs"] / tok_s if tok_s else 0.0,
            "textkit.analyze_s": _median([dur(s[0]) for s in spans]),
            "operators.postings.dictionary_s": dict_s,
            "operators.postings.postings_s": post_s,
            "operators.postings.encode_partials_s": self.partials[0],
            "operators.postings.merge_partials_s": self.partials[1],
            "operators.postings.shuffle_write_bytes": build["shuffleWriteBytes"],
            "operators.postings.spill_bytes":
                build["memoryBytesSpilled"] + build["diskBytesSpilled"],
            "plans.build.jobs": build["jobs"],
            "plans.build.tasks": build["numTasks"],
            "plans.build.executor_run_s": run_s,
            "plans.build.busy_ratio": run_s / (self.build_s * self.size["cores"]),
            "plans.build.uncovered_s": max(self.build_s - tok_s - dict_s - post_s, 0.0),
            "sources.catalog.tokenized_bytes": cat_bytes("tokenized"),
            "sources.catalog.dictionary_bytes": cat_bytes("dictionary"),
            "sources.catalog.postings_bytes": cat_bytes("postings"),
            "operators.topk.plan_s": _median([dur(s[1]) for s in spans]),
            "operators.topk.exec_s": _median([dur(s[2]) for s in spans]),
            "operators.topk.jobs_per_query": _median([c["jobs"] for c in topk]),
            "operators.topk.tasks_per_query": _median([c["numTasks"] for c in topk]),
            "operators.topk.shuffle_bytes_per_query":
                _median([c["shuffleWriteBytes"] for c in topk]),
            "operators.topk.executor_run_s_per_query":
                _median([c["executorRunTime"] / 1000.0 for c in topk]),
            "operators.topk.with_urls_s": _median([dur(s[3]) for s in spans]),
            "streaming.incremental.update_s": named.get("update_s", 0.0),
            "streaming.incremental.detect_s": _median(S.get("detect_s", [])),
            "streaming.incremental.dictionary_s": _median(S.get("inc_dictionary_s", [])),
            "streaming.incremental.postings_s": _median(S.get("inc_postings_s", [])),
            "streaming.incremental.touched_tbuckets": _median(S.get("touched_tbuckets", [])),
            "streaming.incremental.ledger_bytes_written":
                self.counts["ledger_bytes"] / rounds if rounds else 0.0,
            "streaming.incremental.postings_bytes_written":
                self.counts["postings_bytes"] / rounds if rounds else 0.0,
            "streaming.incremental.bytes_written_per_changed_doc":
                named.get("update_bytes_written_per_changed_doc", 0.0),
            "functions.qcache.hits": hits,
            "functions.qcache.misses": misses,
            "functions.qcache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "functions.qcache.stale_hits": self.counts["stale_hits"],
            "functions.nsw.graph_build_s": self.ann_build_s,
            "functions.nsw.search_batch_s": _median(S.get("nsw_s", [])),
            "functions.nsw.hnsw_batch_s": _median(S.get("hnsw_s", [])),
            "functions.nsw.tasks_per_batch":
                _median([tr.counters(r)["numTasks"] for r in S.get("vector_spans", [])]),
            "functions.nsw.vector_qps": named.get("vector_qps", 0.0),
            "telemetry.steal_pct": self.telemetry["steal_pct"],
            "telemetry.load1": self.telemetry["load1"],
            "setup.session_s": self.setup_parts["session_s"],
            "setup.corpus_gen_s": self.setup_parts["corpus_gen_s"],
            "setup.index_build_s": self.setup_parts["index_build_s"],
            "setup.oracle_s": self.setup_parts.get("oracle_s", 0.0),
            "setup.graph_build_s": self.setup_parts.get("graph_build_s", 0.0),
            "trace.overhead_s": overhead_s,
        }


def source_digest() -> str:
    """Digest of the engine and benchmark sources: which code a run
    measured (the checkout is not a git repository)."""
    h = hashlib.sha256()
    for top in ("codegraph_rust_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _untraced_path(run: Run, digest: str) -> str:
    return os.path.join(WORK_ROOT, "untraced", f"{run.workload}-s{run.seed}-{digest}.json")


# spans of calls that only a traced run makes inside the cycle
TRACE_ONLY_SPANS = ("textkit:analyze", "streaming.incremental:detect_changes")


def tracing_overhead(run: Run, digest: str) -> tuple[float, float, str]:
    """(overhead, added) of this traced run's cycle wall: ``added`` is
    the wall of the calls only a traced run makes, and the overhead is
    the rest of the difference from the untraced run of the same
    workload, seed and sources in this checkout (0 if there is none)."""
    added = sum(s["end"] - s["start"] for s in run.tracer.spans
                if s["name"] in TRACE_ONLY_SPANS)
    try:
        with open(_untraced_path(run, digest)) as f:
            base = json.load(f)["end_to_end"]["cycle_s"]
    except (OSError, ValueError, KeyError):
        return 0.0, added, "no untraced run of this workload, seed and source yet"
    return run.cycle_s - added - base, added, "untraced run of the same seed and source"


def main(argv=None) -> int:
    spec = load_spec()
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal length of the timed region; a run always times one cycle")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    if not _engine_importable():
        return 2
    sys.path.insert(0, HERE)

    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, SIZES[args.size], work)
    try:
        run.execute()
        named = run.named_metrics()
        e2e = run.end_to_end(named, e2e_units)
        digest = source_digest()
        if run.traced:
            overhead, added, basis = tracing_overhead(run, digest)
            layers = run.layer_metrics(named, overhead)
    finally:
        if hasattr(run, "spark"):
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    report = {"workload": run.workload, "seed": run.seed, "traced": run.traced,
              "source": digest, "timed_s": run.timed_s,
              "samples": {"queries": len(run.samples.get("query_s", [])),
                          "update_rounds": len(run.samples.get("update_s", []))},
              "metrics": named, "setup": run.setup_parts, "rss": run.rss,
              "counts": run.counts,
              "end_to_end": e2e}
    if run.traced:
        report.update(layers=layers, tracing_overhead_basis=basis,
                      trace_only_calls_s=added, layer_self_s=run.tracer.self_times())
        run.tracer.dump(os.path.join(WORK_ROOT, "traces", f"{run.tracer.run_id}.json"), report)
    else:
        os.makedirs(os.path.dirname(_untraced_path(run, digest)), exist_ok=True)
        with open(_untraced_path(run, digest), "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))
    values, units = (layers, layer_units) if run.traced else (e2e, e2e_units)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
