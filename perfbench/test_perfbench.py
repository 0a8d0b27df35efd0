"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench -q

The smoke runs start Spark at the ``tiny`` size (``local[2]``) and take
about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
from codegraph_rust_spark.config import IndexConfig  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make_inputs(root: str, seed: int) -> None:
    pages = inputs.make_corpus(os.path.join(root, "corpus"), 120, seed)
    reservoir = inputs.make_corpus(os.path.join(root, "reservoir"), 10, seed + 1)
    corpus = inputs.Corpus(pages, reservoir)
    for rnd in range(2):
        corpus.apply_delta(seed, rnd, os.path.join(root, f"snapshot{rnd}.parquet"))
    inputs.make_embeddings(os.path.join(root, "vectors"), 50, seed)


def test_inputs_are_byte_identical_for_a_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        _make_inputs(str(tmp_path / name), seed)
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c
    assert inputs.query_stream(5, 40, salt=1) == inputs.query_stream(5, 40, salt=1)
    assert inputs.query_stream(5, 40, salt=1) != inputs.query_stream(6, 40, salt=1)
    assert inputs.vector_qids(5, 50, 4) == inputs.vector_qids(5, 50, 4)
    assert inputs.vector_qids(5, 50, 4) != inputs.vector_qids(6, 50, 4)


def test_query_stream_is_unique_and_mixed():
    qs = inputs.query_stream(9, 200)
    assert len(set(qs)) == 200
    assert all(1 <= len(q.split()) <= 4 for q in qs)
    words = {w for q in qs for w in q.split()}
    assert any(w.startswith("zq") for w in words)  # out of vocabulary
    assert any(w.isupper() for w in words)  # case/stem variants


def test_delta_changes_about_one_percent(tmp_path):
    pages = inputs.make_corpus(str(tmp_path / "corpus"), 300, 1)
    reservoir = inputs.make_corpus(str(tmp_path / "reservoir"), 10, 2)
    corpus = inputs.Corpus(pages, reservoir)
    before = dict(corpus.rows)
    got = corpus.apply_delta(1, 0, str(tmp_path / "snap.parquet"))
    assert got == {"modified": 1, "deleted": 1, "added": 1}
    assert len(corpus.rows) == len(before)
    assert sum(u in before and corpus.rows[u] != before[u] for u in corpus.rows) == 1


DOCS = [
    ("https://a.example/1", "run running runner"),
    ("https://a.example/2", "run index"),
    ("https://a.example/3", "index search search"),
    ("https://a.example/4", "search"),
]


def _rows(ranked):
    return [{"doc_id": d, "score": s, "rank": i + 1} for i, (d, s) in enumerate(ranked)]


def test_oracle_check_flags_planted_errors():
    want = checks.oracle(DOCS, ["run", "search index"], IndexConfig(), 10)["search index"]
    assert len(want) == 3
    assert checks.topk_mismatches(_rows(want), want) == []

    wrong_score = _rows(want)
    wrong_score[1]["score"] += 1e-6
    assert checks.topk_mismatches(wrong_score, want)

    swapped = _rows(want)
    swapped[0]["doc_id"], swapped[1]["doc_id"] = swapped[1]["doc_id"], swapped[0]["doc_id"]
    assert checks.topk_mismatches(swapped, want)

    assert checks.topk_mismatches(_rows(want)[:-1], want)

    urls = {d: u for (d, _), (u, _) in zip(checks.doc_ids(DOCS), DOCS)}
    with_urls = [dict(r, url=urls[r["doc_id"]]) for r in _rows(want)]
    assert checks.topk_mismatches(with_urls, want, urls) == []
    with_urls[0]["url"] = "https://elsewhere.example/"
    assert checks.topk_mismatches(with_urls, want, urls)


def test_vector_check_flags_planted_errors():
    import numpy as np

    x = np.random.default_rng(0).normal(size=(20, 8)).astype(np.float32)
    x64 = x.astype(np.float64)
    nrm = np.sqrt((x64 * x64).sum(axis=1))
    cos = checks._round6(x64 @ x64[3] / (nrm * nrm[3]))
    ids = sorted(range(20), key=lambda i: (-cos[i], i))[:5]
    rows = [{"qid": 3, "vec_id": i, "cosine": float(cos[i]), "rank": r + 1}
            for r, i in enumerate(ids)]
    assert checks.vector_mismatches(rows, x, [3], 5) == []
    bad = [dict(r) for r in rows]
    bad[2]["cosine"] += 1e-4
    assert checks.vector_mismatches(bad, x, [3], 5)
    assert checks.vector_mismatches(rows[:4], x, [3], 5)


def test_setup_s_has_the_largest_bound():
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in SPEC["end_to_end"])
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "search", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _tiny_run(workload: str, trace: int, prelude: str = "") -> tuple[dict, dict]:
    """A ``tiny`` run → (report, result).  ``prelude`` is Python run in
    the benchmark's process before it starts."""
    args = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny"]
    code = (f"import sys; sys.path[:0] = [{ROOT!r}, {HERE!r}]\n{prelude}\n"
            f"import run; sys.exit(run.main({args!r}))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_smoke_run(workload, trace):
    report, result = _tiny_run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if trace:
        assert result["metrics"]["functions.qcache.stale_hits"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if workload == "update":
        assert report["counts"]["cache_hits"] > 0
        assert report["counts"]["cache_misses"] > 0


def test_update_flags_a_cache_that_ignores_the_splice():
    # every snapshot gets the same token, so pre-splice answers are served
    report, result = _tiny_run("update", 0, prelude=(
        "from codegraph_rust_spark.operators.topk import InvertedIndex\n"
        "InvertedIndex.snapshot_token = lambda self: 0"))
    assert report["counts"]["stale_hits"] > 0
    assert not result["correct"] and result["failed"] > 0
