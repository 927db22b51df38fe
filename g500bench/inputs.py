"""Seeded inputs for the benchmark workloads, and the references their
outputs are checked against.

Everything here runs on the driver with NumPy / pyarrow / DuckDB, never
through Spark, so building an input or a reference adds no Spark job to
the run being measured.

* ``write_tables`` writes the TPC-H-shaped tables the ``plans.queries``
  fixtures read (``orders``, ``customer``, ``supplier``, ``lineitem``;
  the other registered tables get a one-row placeholder, because the
  fixtures register every table as a view but these graphs read none of
  them).
* ``write_documents`` writes the corpus the streaming ingest reads, as a
  fixed number of parquet files whose contents the seed shuffles.
* ``bfs_reference`` is the independent reference for the Graph500
  checks: a BFS over the raw edge list on the driver.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """TPC-H-shaped tables at scale factor ``sf``: the row counts and key
    ranges of the generator the oracle suite was written against
    (orders = 150k·sf, customer = 15k·sf, supplier = 1k·sf, lineitem =
    4 per order), with the foreign keys drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_orders = max(1, int(150_000 * sf))
    n_cust = max(1, int(15_000 * sf))
    n_supp = max(1, int(1_000 * sf))
    n_part = max(1, int(20_000 * sf))
    os.makedirs(out_dir, exist_ok=True)
    cols = {
        "orders": {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int64),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int64),
        },
        "lineitem": {
            "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), 4),
            "l_partkey": rng.integers(0, n_part, 4 * n_orders, dtype=np.int64),
        },
    }
    for name in TABLES:
        table = pa.table(cols.get(name, {"placeholder": np.zeros(1, np.int64)}))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# Words drawn into each document. The stopwords are the language markers
# of operators/text.py, so documents land in different languages, and a
# share of documents carry none of them and are gated out as "und".
_TOPIC = (
    "spark data table query join scan merge sort hash batch stream window"
    " vector column row filter group order value key line part customer"
    " fast slow big small agg"
).split()
_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "mit"),
    "es": ("el", "los", "que", "y", "una"),
    "fr": ("le", "les", "et", "est", "dans"),
    "und": (),
}


def make_documents(n_docs: int, seed: int) -> list[str]:
    """``n_docs`` texts; about 1 in 50 repeats an earlier text, so the
    within-batch exact dedup has work even before replication."""
    rng = np.random.default_rng(seed)
    langs = list(_MARKERS)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        markers = _MARKERS[langs[int(rng.integers(0, len(langs)))]]
        n = int(rng.integers(4, 80))
        vocab = _TOPIC + list(markers) * 2
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n)))
    return texts


def write_documents(
    out_dir: str, n_docs: int, replicas: int, n_files: int, seed: int
) -> int:
    """Write ``n_docs`` documents ``replicas`` times over (ids shifted per
    replica, so every replica after the first is a cross-batch exact
    duplicate) as ``n_files`` parquet files; the seed decides which rows
    land in which file. Returns the number of rows written."""
    texts = make_documents(n_docs, seed)
    doc_id = np.concatenate(
        [np.arange(n_docs, dtype=np.int64) + r * 2 * n_docs for r in range(replicas)]
    )
    text = np.array(texts * replicas, dtype=object)
    order = np.random.default_rng(seed + 1).permutation(len(doc_id))
    os.makedirs(out_dir, exist_ok=True)
    for f, idx in enumerate(np.array_split(order, n_files)):
        idx = np.sort(idx)
        table = pa.table(
            {
                "doc_id": pa.array(doc_id[idx], pa.int64()),
                "text": pa.array(text[idx], pa.string()),
                "lang": pa.array(["und"] * len(idx), pa.string()),
                "source": pa.array([f"src{f}"] * len(idx), pa.string()),
                "n_chars": pa.array([len(t) for t in text[idx]], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return len(doc_id)


def bfs_reference(
    src: np.ndarray, dst: np.ndarray, n: int, roots: list[int]
) -> dict[int, tuple[int, int, int]]:
    """root → (vertices reached, raw edges visited, max depth) that a
    correct BFS from ``root`` over the undirected raw edge list must
    report; raw edges count duplicates and self-loops, as
    ``edge_visit_count`` does."""
    u = np.concatenate([src, dst])
    order = np.argsort(u, kind="stable")
    nbr = np.concatenate([dst, src])[order]
    indptr = np.searchsorted(u[order], np.arange(n + 1))
    out = {}
    for root in roots:
        depth = np.full(n, -1, dtype=np.int64)
        depth[root] = 0
        frontier = np.array([root], dtype=np.int64)
        level = 0
        while frontier.size:
            starts, lens = indptr[frontier], indptr[frontier + 1] - indptr[frontier]
            # positions of every neighbour of every frontier vertex
            pos = np.arange(lens.sum()) + np.repeat(starts - np.cumsum(lens) + lens, lens)
            nxt = np.unique(nbr[pos])
            frontier = nxt[depth[nxt] < 0]
            level += 1
            depth[frontier] = level
        out[root] = (
            int((depth >= 0).sum()),
            int((depth[src] >= 0).sum()),
            int(depth.max()),
        )
    return out
