"""Seeded benchmark inputs, generated on the driver and cached as parquet.

A cache entry is keyed on (generator source hash, seed, size): a change to
the page generator or to this file makes a new entry instead of silently
reusing stale data. Ground truth is written to its own file next to the
input; the pipeline only ever reads the input file.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang", "doc_order"]
TRUTH_COLUMNS = ["doc_order", "dup_class", "group_id"]


def _source_tag(*modules) -> str:
    h = hashlib.sha1()
    for m in (*modules, inspect.getmodule(_source_tag)):
        h.update(inspect.getsource(m).encode("utf-8"))
    return h.hexdigest()[:12]


def _cached(cache_dir: str, key: str, build) -> str:
    """Directory holding the entry ``key``; ``build(tmp_dir)`` fills it on a
    miss, and the rename publishes it only once it is complete."""
    path = os.path.join(cache_dir, key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        try:
            build(tmp)
            os.rename(tmp, path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # left only by a failed build
    return path


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def crawl_pages(cache_dir: str, seed: int, n_docs: int) -> str:
    """The synthetic crawl (``sources.pages``, default class mix: 50%
    unique, 50% planted duplicates) → dir with ``pages.parquet`` (what the
    pipeline reads) and ``truth.parquet`` (class and group of every doc)."""
    import deduplication_framework_spark.sources.pages as pages_mod

    def build(tmp):
        rows = pd.DataFrame(
            [pages_mod.make_page_row(i, n_docs, seed) for i in range(n_docs)]
        )
        _write(rows[PAGE_COLUMNS], os.path.join(tmp, "pages.parquet"))
        _write(rows[TRUTH_COLUMNS], os.path.join(tmp, "truth.parquet"))

    key = f"pages-{_source_tag(pages_mod)}-s{seed}-n{n_docs}"
    return _cached(cache_dir, key, build)


def _graph_edges(rng: np.random.RandomState, chains, chain_len, stars,
                 star_size, cliques, singletons):
    """Local-index edge list + vertex count: drift chains (diameter =
    chain_len), template stars (one hub, star_size members) and small
    cliques of 3-6 members, plus isolated vertices."""
    parts, n = [], 0
    for _ in range(chains):
        idx = np.arange(n, n + chain_len)
        parts.append(np.stack([idx[:-1], idx[1:]], axis=1))
        n += chain_len
    for _ in range(stars):
        spokes = np.arange(n + 1, n + 1 + star_size)
        parts.append(np.stack([np.full_like(spokes, n), spokes], axis=1))
        n += star_size + 1
    for size in rng.randint(3, 7, size=cliques):
        a, b = np.triu_indices(size, k=1)
        parts.append(np.stack([a + n, b + n], axis=1))
        n += size
    n += singletons
    return np.concatenate(parts), n


def cluster_graph(cache_dir: str, seed: int, shape: dict) -> str:
    """Duplicate-edge graph → dir with ``edges.parquet`` (src, dst),
    ``vertices.parquet`` (doc_id) and ``oracle.npy`` (cluster id of every
    vertex from the driver union-find). Vertex ids are a seeded
    permutation, increasing along each chain."""
    from deduplication_framework_spark.oracle import numpy_oracle

    def build(tmp):
        rng = np.random.RandomState(seed)
        local, n = _graph_edges(rng, **shape)
        ids = rng.permutation(n).astype(np.int64)
        # a drift chain is a run of successive edits, so its docs carry
        # increasing crawl-order ids; stars and cliques keep random ids
        span = shape["chains"] * shape["chain_len"]
        ids[:span] = np.sort(
            ids[:span].reshape(shape["chains"], shape["chain_len"]), axis=1
        ).ravel()
        edges = ids[local]
        # a src/dst coin flip: label propagation must not rely on direction
        flip = rng.rand(len(edges)) < 0.5
        edges[flip] = edges[flip][:, ::-1]
        _write(pd.DataFrame({"src": edges[:, 0], "dst": edges[:, 1]}),
               os.path.join(tmp, "edges.parquet"))
        _write(pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64)}),
               os.path.join(tmp, "vertices.parquet"))
        uf = numpy_oracle.UnionFind()
        for a, b in edges.tolist():
            uf.union(a, b)
        np.save(os.path.join(tmp, "oracle.npy"),
                np.array([uf.find(i) for i in range(n)], dtype=np.int64))

    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    key = f"graph-{_source_tag(numpy_oracle)}-s{seed}-{tag}"
    return _cached(cache_dir, key, build)
