"""Correctness checks, run outside the timed region.

BM25 results must be rank-identical to ``operators.oracle.oracle_topk``
(same doc ids in the same ranks, ties by ascending doc_id, scores within
1e-9).  ANN results must carry the exact rounded cosine of each
(query, vector) pair, in (cosine desc, vec_id asc) order.
"""

from __future__ import annotations

import numpy as np

from codegraph_rust_spark.operators.oracle import oracle_topk
from codegraph_rust_spark.operators.xxhash import xxh64_str

SCORE_TOL = 1e-9
COSINE_TOL = 2e-6


def doc_ids(docs: list[tuple[str, str]]) -> list[tuple[int, str]]:
    """(url, text) → (doc_id, text) with the engine's xxhash64(url) ids."""
    return [(xxh64_str(u), t) for u, t in docs]


def oracle(docs: list[tuple[str, str]], queries: list[str], cfg, k: int) -> dict:
    """Exhaustive top-k per query text."""
    got = oracle_topk(doc_ids(docs), list(enumerate(queries)), k=k, cfg=cfg)
    return {queries[qid]: ranked for qid, ranked in got.items()}


def topk_mismatches(rows, want: list[tuple[int, float]], urls: dict | None = None) -> list[str]:
    """Differences between one query's engine rows (dicts with doc_id,
    score, rank and optionally url) and its oracle list."""
    have = sorted((int(r["rank"]), int(r["doc_id"]), float(r["score"]), r.get("url"))
                  for r in rows)
    errs = []
    if len(have) != len(want):
        errs.append(f"{len(have)} results, oracle has {len(want)}")
    for i, ((rank, doc, score, url), (w_doc, w_score)) in enumerate(zip(have, want)):
        if rank != i + 1:
            errs.append(f"rank {rank} at position {i + 1}")
        if doc != w_doc:
            errs.append(f"rank {rank}: doc {doc} != oracle {w_doc}")
        if abs(score - w_score) > SCORE_TOL:
            errs.append(f"rank {rank}: score {score!r} != oracle {w_score!r}")
        if urls is not None and urls.get(doc) != url:
            errs.append(f"rank {rank}: url {url!r} != {urls.get(doc)!r}")
    return errs


def by_qid(rows) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        out.setdefault(int(d["qid"]), []).append(d)
    return out


def _round6(x: np.ndarray) -> np.ndarray:
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def vector_mismatches(rows, x: np.ndarray, qids: list[int], k: int) -> list[str]:
    """Each query gets k rows ranked 1..k whose cosines are the exact
    rounded cosines, ordered by (cosine desc, vec_id asc)."""
    x64 = x.astype(np.float64)
    nrm = np.sqrt((x64 * x64).sum(axis=1))
    got = by_qid(rows)
    errs = []
    for q in sorted(set(qids)):
        have = sorted(got.get(q, []), key=lambda r: r["rank"])
        if [r["rank"] for r in have] != list(range(1, k + 1)):
            errs.append(f"q{q}: ranks {[r['rank'] for r in have]}")
            continue
        ids = np.array([r["vec_id"] for r in have], dtype=np.int64)
        cos = np.array([r["cosine"] for r in have])
        exact = _round6(x64[ids] @ x64[q] / (nrm[ids] * nrm[q]))
        if np.abs(cos - exact).max() > COSINE_TOL:
            errs.append(f"q{q}: cosines {cos.tolist()} != {exact.tolist()}")
        order = sorted(zip(-cos, ids))
        if [int(i) for _, i in order] != ids.tolist():
            errs.append(f"q{q}: rows not in (cosine desc, vec_id asc) order")
    extra = set(got) - set(qids)
    if extra:
        errs.append(f"rows for qids never asked: {sorted(extra)[:5]}")
    return errs
