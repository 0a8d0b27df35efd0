"""Seeded benchmark inputs.

Everything the engine sees is made here from the run's seed: the page
corpus (``sources.pages_gen``), the query streams, the update deltas
and the embedding table.  The same seed gives byte-identical files
(checked by ``test_perfbench.py``).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from codegraph_rust_spark.sources.pages_gen import build_vocab, generate_pages

VOCAB_SIZE = 50_000
MEAN_LEN = 120
# the first words build_vocab emits are its stem families
# (run/running/runs/…) — they are also the Zipf head
STEM_WORDS = 23
HEAD_RANKS = (0, 50)
MID_RANKS = (50, 2_000)
TAIL_RANKS = (2_000, VOCAB_SIZE)

# term classes of a query word
HEAD, MID, TAIL, STEM, OOV = range(5)
# Every stream cycles through these shapes (1–4 words each), so every
# run sees the same mix and the seed only picks the words.
QUERY_SHAPES = (
    (HEAD,),
    (MID,),
    (STEM,),
    (HEAD, MID),
    (MID, TAIL, OOV),
    (HEAD, STEM, TAIL, OOV),
)

@functools.cache
def vocab() -> list[str]:
    return build_vocab(VOCAB_SIZE)


def make_corpus(out_dir: str, n_docs: int, seed: int) -> str:
    """pages_gen corpus (Zipf 1.07, 50k vocabulary, edge docs);
    returns the pages.parquet directory."""
    generate_pages(out_dir, n_docs=n_docs, vocab_size=VOCAB_SIZE,
                   mean_len=MEAN_LEN, seed=seed)
    return os.path.join(out_dir, "pages.parquet")


def _term(rng: np.random.Generator, cls: int) -> str:
    v = vocab()
    if cls == HEAD:
        return v[int(rng.integers(*HEAD_RANKS))]
    if cls == MID:
        return v[int(rng.integers(*MID_RANKS))]
    if cls == TAIL:
        return v[int(rng.integers(*TAIL_RANKS))]
    if cls == STEM:
        w = v[int(rng.integers(0, STEM_WORDS))]
        return (w.upper(), w.title(), w)[int(rng.integers(0, 3))]
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    return "zq" + "".join(rng.choice(letters, size=7))


def query_stream(seed: int, n: int, salt: int = 0) -> list[str]:
    """``n`` distinct queries, the i-th of shape QUERY_SHAPES[i % 6]."""
    rng = np.random.default_rng([seed, salt, 0x51])
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        shape = QUERY_SHAPES[len(out) % len(QUERY_SHAPES)]
        q = " ".join(_term(rng, cls) for cls in shape)
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


class Corpus:
    """The corpus as the benchmark knows it (url → row), so deltas can
    be applied and the oracle rebuilt over any state."""

    def __init__(self, pages_dir: str, reservoir_dir: str):
        table = pq.read_table(pages_dir)
        self.schema = table.schema
        self.rows = {r["url"]: r for r in table.to_pylist()}
        self._reservoir = pq.read_table(reservoir_dir).to_pylist()
        self._next = 0

    def docs(self) -> list[tuple[str, str]]:
        return [(u, r["text"]) for u, r in self.rows.items()]

    def _content(self) -> dict:
        r = self._reservoir[self._next % len(self._reservoir)]
        self._next += 1
        return r

    def apply_delta(self, seed: int, rnd: int, out_path: str,
                    frac: float = 0.01) -> dict:
        """Change ~``frac`` of the urls (mostly modified, some added and
        deleted), write the full new snapshot to ``out_path`` and return
        the change counts."""
        rng = np.random.default_rng([seed, rnd, 0xD1])
        urls = sorted(self.rows)
        n = max(3, int(round(frac * len(urls))))
        n_del, n_add = max(1, n // 10), max(1, n // 5)
        n_mod = n - n_del - n_add
        picked = rng.choice(len(urls), size=n_mod + n_del, replace=False)
        for i in picked[:n_mod]:
            u = urls[int(i)]
            c = self._content()
            self.rows[u] = dict(self.rows[u], html=c["html"], text=c["text"])
        for i in picked[n_mod:]:
            del self.rows[urls[int(i)]]
        for j in range(n_add):
            c = self._content()
            u = f"https://delta.example/r{rnd}/{j}"
            self.rows[u] = dict(c, url=u)
        pq.write_table(
            pa.Table.from_pylist(list(self.rows.values()), schema=self.schema),
            out_path,
        )
        return {"modified": n_mod, "deleted": n_del, "added": n_add}


def make_embeddings(out_dir: str, n: int, seed: int, dim: int = 64,
                    clusters: int = 10) -> np.ndarray:
    """Clustered float32 vectors in ``out_dir/embeddings.parquet``
    (the sf-table layout ``functions.nsw`` reads)."""
    rng = np.random.default_rng([seed, 0xE5])
    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, size=n)
    x = (centers[label] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return x


def vector_qids(seed: int, n_vectors: int, batch: int) -> list[int]:
    """``batch`` distinct query vector ids."""
    rng = np.random.default_rng([seed, 0x7E])
    return sorted(int(v) for v in rng.choice(n_vectors, size=batch, replace=False))
