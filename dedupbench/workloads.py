"""The benchmark's three workloads.

Each workload has an untraced pass, which calls the public entry point a
user calls, and a traced pass, which calls the same public functions in the
same order with every layer's output materialized at its boundary inside a
span. Both end with the keepers materialized as (rows, id sum, id hash sum),
so the two compositions can be checked against each other.

* ``crawl_fuzzy``: ``run_pipeline(exact, minhash, simhash, verify)`` with no
  store, the default API/CLI path. Featurization, LSH and verification do
  the work; the edge set stays under ``cc_broadcast_threshold``, so CC takes
  the driver union-find branch.
* ``crawl_substring_ckpt``: ``run_pipeline(exact, suffix_array)`` committing
  every stage to a fresh ``ParquetTableStore``, the resumable production
  path. The suffix-array L-gram shuffle and the store writes do the work;
  featurization never runs.
* ``cluster_graph``: ``clusters_from_edges`` + ``keepers`` over a generated
  graph with more edges than ``cc_broadcast_threshold``, so CC takes the
  distributed label-propagation branch.
"""

from __future__ import annotations

import itertools
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.functions.text import make_fused_features_udf
from deduplication_framework_spark.operators.cluster import (
    clusters_from_edges,
    keepers as keepers_op,
)
from deduplication_framework_spark.operators.exact import exact_dedup
from deduplication_framework_spark.operators.lsh import (
    candidate_pairs,
    minhash_bands,
    release_census_caches,
    simhash_candidate_edges,
)
from deduplication_framework_spark.operators.suffix_array import (
    substring_edges_suffix_array,
)
from deduplication_framework_spark.operators.verify import verify_jaccard
from deduplication_framework_spark.plans.checkpoint import ParquetTableStore
from deduplication_framework_spark.plans.pipeline import (
    effective_config_hash,
    prepare_docs,
    run_pipeline,
)

from dedupbench import inputs

# a run fails when recall of the planted pairs drops below this
MIN_RECALL = 0.99


@dataclass
class Loaded:
    """What a pass needs: the input tables and the truth to score against."""

    n_docs: int
    input_mb: float
    tables: Dict[str, DataFrame]
    truth: pd.DataFrame
    work_dir: str


@dataclass
class PassOutput:
    keepers: tuple  # (rows, sum of ids, sum of id hashes)
    clusters: DataFrame
    cc_rounds: int
    counts: Dict[str, float] = field(default_factory=dict)


def materialize(keep: DataFrame) -> tuple:
    row = keep.agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("ids"),
        F.sum(F.hash("doc_id").cast("long")).alias("hashes"),
    ).collect()[0]
    return (int(row.n), int(row.ids or 0), int(row.hashes or 0))


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    ) / 1e6


def pair_recall(groups: np.ndarray, labels: np.ndarray) -> float:
    """Share of same-group pairs that share a predicted label."""
    df = pd.DataFrame({"g": groups, "c": labels})
    pairs = lambda s: (s * (s - 1) // 2).sum()  # noqa: E731
    total = pairs(df.groupby("g").size())
    found = pairs(df.groupby(["g", "c"]).size())
    return float(found) / float(total) if total else 1.0


def keepers_ok(clusters: pd.DataFrame, keepers: tuple, ids: np.ndarray) -> bool:
    """Structural check: the clusters cover exactly ``ids``, every cluster
    is labelled by its minimum member, and the keepers are those minima."""
    mins = clusters.groupby("cluster_id")["doc_id"].min()
    return (
        np.array_equal(np.sort(clusters.doc_id.values), np.sort(ids))
        and bool((mins.index.values == mins.values).all())
        and (keepers[0], keepers[1]) == (len(mins), int(mins.sum()))
    )


# --------------------------------------------------------------------------
# crawl workloads
# --------------------------------------------------------------------------


@dataclass
class CrawlWorkload:
    name: str
    n_docs: int
    detectors: List[str]
    recall_classes: List[str]
    with_store: bool

    cfg: PipelineConfig = field(default_factory=PipelineConfig)

    def generate(self, cache_dir: str, seed: int) -> str:
        return inputs.crawl_pages(cache_dir, seed, self.n_docs)

    def load(self, spark: SparkSession, path: str, work_dir: str) -> Loaded:
        pages_path = os.path.join(path, "pages.parquet")
        pages = spark.read.parquet(pages_path)
        if pages.count() != self.n_docs:
            raise AssertionError("input table does not hold the generated pages")
        return Loaded(
            n_docs=self.n_docs,
            input_mb=os.path.getsize(pages_path) / 1e6,
            tables={"pages": pages},
            truth=pd.read_parquet(os.path.join(path, "truth.parquet")),
            work_dir=work_dir,
        )

    def _store(self, spark, inp: Loaded) -> Optional[ParquetTableStore]:
        if not self.with_store:
            return None
        return ParquetTableStore(
            spark, os.path.join(inp.work_dir, f"store-{uuid.uuid4().hex[:8]}")
        )

    def run(self, spark, inp: Loaded) -> PassOutput:
        res = run_pipeline(
            spark, inp.tables["pages"], self.cfg, detectors=self.detectors,
            verify=True, store=self._store(spark, inp),
        )
        return PassOutput(materialize(res.keepers), res.clusters, res.cc_rounds)

    def traced(self, spark, inp: Loaded, span: Callable) -> PassOutput:
        """run_pipeline's stage order, one span per layer call and one
        ``store`` span per commit."""
        cfg = self.cfg
        store = self._store(spark, inp)
        chash = effective_config_hash(cfg, self.detectors, True)
        counts: Dict[str, float] = {}

        def mat(df):
            df = df.persist()
            return df, df.count()

        def commit(df, name, lineage):
            if store is None:
                return df
            with span("store"):
                out = store.write(df, name, chash, lineage=lineage)
            df.unpersist()
            counts["store.commits"] = counts.get("store.commits", 0) + 1
            return out

        with span("sources"):
            docs, _ = mat(prepare_docs(inp.tables["pages"]))
        docs = commit(docs, "docs", ["pages"])
        with span("exact"):
            uniq, exact_edges = exact_dedup(docs, hash_fn="md5")
            (uniq, n_uniq), (exact_edges, _) = mat(uniq), mat(exact_edges)
            counts["exact.dup_rows"] = inp.n_docs - n_uniq
        uniq = commit(uniq, "docs_uniq", ["docs"])
        parts = [exact_edges]

        if "minhash" in self.detectors or "simhash" in self.detectors:
            with span("features"):
                fused = make_fused_features_udf(
                    cfg.embedding, cfg.dedup,
                    with_minhash="minhash" in self.detectors,
                    with_lsh_feats="minhash" in self.detectors,
                    with_simhash="simhash" in self.detectors,
                    kgram=cfg.suffix.kgram_size, window=cfg.suffix.winnow_window,
                )
                feats, counts["features.docs"] = mat(
                    uniq.select("doc_id", fused("text").alias("f")).select(
                        "doc_id", "f.*"
                    )
                )
            feats = commit(feats, "features", ["docs_uniq"])
        if "minhash" in self.detectors:
            with span("lsh"):
                b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
                pairs, stats = candidate_pairs(
                    minhash_bands(feats.select("doc_id", "sig"), b, r),
                    bucket_cap=cfg.spark.bucket_cap,
                )
                pairs, counts["lsh.minhash.candidate_pairs"] = mat(pairs)
                st = stats.collect()[0]
                counts["lsh.minhash.max_bucket_size"] = st["max_bucket_size"] or 0
                counts["lsh.minhash.capped_band_rows"] = st["n_capped_band_rows"] or 0
            with span("verify"):
                mh_edges, counts["verify.edges_out"] = mat(verify_jaccard(
                    pairs, feats.select("doc_id", "shingles"), cfg.dedup.threshold
                ))
                counts["verify.pairs_in"] = counts["lsh.minhash.candidate_pairs"]
            parts.append(commit(mh_edges, "edges_minhash", ["features"]))
        if "simhash" in self.detectors:
            with span("lsh"):
                sh_edges, stats = simhash_candidate_edges(
                    feats.select("doc_id", "simhash"),
                    dist=cfg.dedup.simhash_dist,
                    bucket_cap=cfg.spark.simhash_bucket_cap,
                )
                sh_edges, counts["lsh.simhash.edges"] = mat(sh_edges)
                stats.collect()
            parts.append(commit(sh_edges, "edges_simhash", ["features"]))
        if "suffix_array" in self.detectors:
            with span("suffix_array"):
                sa_edges, stats = substring_edges_suffix_array(
                    uniq, cfg.suffix.min_match_chars, bucket_cap=1,
                    collapse_exact="exact" not in self.detectors,
                )
                sa_edges, counts["suffix_array.edges"] = mat(sa_edges)
                counts["suffix_array.capped_band_rows"] = (
                    stats.collect()[0]["n_capped_band_rows"] or 0
                )
            parts.append(commit(sa_edges, "edges_suffix_array", ["docs_uniq"]))

        edges = parts[0]
        for p in parts[1:]:
            edges = edges.unionByName(p)
        with span("cluster"):
            edges, counts["cluster.edges_in"] = mat(edges.select("src", "dst", "sim"))
        edges = commit(edges, "edges", ["detectors"])

        ckpt = None
        if store is not None:
            # run_pipeline commits every distributed CC round to the store
            state = itertools.count(1)

            def ckpt(df):
                return commit(df, f"cc_state_{next(state)}", ["edges"])

        with span("cluster"):
            clusters, rounds = clusters_from_edges(
                docs, edges.select("src", "dst"),
                driver_threshold=cfg.spark.cc_broadcast_threshold,
                checkpoint=ckpt,
            )
            clusters, _ = mat(clusters)
        clusters = commit(clusters, "clusters", ["edges"])
        with span("keepers"):
            keep, _ = mat(keepers_op(docs, clusters))
        keep = commit(keep, "keepers", ["clusters", "docs"])
        with span("keepers"):
            kept = materialize(keep)
        release_census_caches()
        counts["keepers.rows"] = kept[0]
        if store is not None:
            counts["store.write_mb"] = _dir_mb(store.root)
        return PassOutput(kept, clusters, rounds, counts)

    def score(self, inp: Loaded, out: PassOutput) -> dict:
        got = out.clusters.toPandas()
        df = inp.truth.merge(got, left_on="doc_order", right_on="doc_id")
        planted = df[df.dup_class.isin(self.recall_classes)]
        sizes = df.cluster_id.map(df.cluster_id.value_counts())
        recall = pair_recall(
            (planted.dup_class + ":" + planted.group_id.astype(str)).values,
            planted.cluster_id.values,
        )
        return {
            "ok": recall >= MIN_RECALL
            and keepers_ok(got, out.keepers, inp.truth.doc_order.values),
            "dup_pair_recall": recall,
            "false_merge_docs": int(((df.dup_class == "unique") & (sizes > 1)).sum()),
            "components": int(got.cluster_id.nunique()),
        }


# --------------------------------------------------------------------------
# cluster_graph
# --------------------------------------------------------------------------


@dataclass
class GraphWorkload:
    name: str
    shape: dict
    # the distributed/driver CC switch, scaled with the graph: the graph
    # holds several times this many edges, so CC takes the distributed
    # branch while both crawl workloads stay under the default threshold
    cc_broadcast_threshold: int

    def __post_init__(self):
        self.cfg = PipelineConfig()
        self.cfg.spark.cc_broadcast_threshold = self.cc_broadcast_threshold

    def generate(self, cache_dir: str, seed: int) -> str:
        return inputs.cluster_graph(cache_dir, seed, self.shape)

    def load(self, spark: SparkSession, path: str, work_dir: str) -> Loaded:
        edges = spark.read.parquet(os.path.join(path, "edges.parquet"))
        vertices = spark.read.parquet(os.path.join(path, "vertices.parquet"))
        n_edges = edges.count()
        if n_edges <= self.cc_broadcast_threshold:
            raise AssertionError("graph would take the driver CC branch")
        oracle = np.load(os.path.join(path, "oracle.npy"))
        if vertices.count() != len(oracle):
            raise AssertionError("vertex table does not match the oracle")
        return Loaded(
            n_docs=len(oracle),
            input_mb=_dir_mb(path),
            tables={"edges": edges, "vertices": vertices},
            truth=pd.DataFrame({"doc_id": np.arange(len(oracle)), "oracle": oracle}),
            work_dir=work_dir,
        )

    def run(self, spark, inp: Loaded) -> PassOutput:
        vertices = inp.tables["vertices"]
        clusters, rounds = clusters_from_edges(
            vertices, inp.tables["edges"],
            driver_threshold=self.cfg.spark.cc_broadcast_threshold,
        )
        return PassOutput(
            materialize(keepers_op(vertices, clusters)), clusters, rounds
        )

    def traced(self, spark, inp: Loaded, span: Callable) -> PassOutput:
        counts: Dict[str, float] = {}
        with span("sources"):
            vertices = inp.tables["vertices"].persist()
            edges = inp.tables["edges"].persist()
            vertices.count()
            counts["cluster.edges_in"] = edges.count()
        with span("cluster"):
            clusters, rounds = clusters_from_edges(
                vertices, edges,
                driver_threshold=self.cfg.spark.cc_broadcast_threshold,
            )
            clusters = clusters.persist()
            clusters.count()
        with span("keepers"):
            kept = materialize(keepers_op(vertices, clusters))
        counts["keepers.rows"] = kept[0]
        return PassOutput(kept, clusters, rounds, counts)

    def score(self, inp: Loaded, out: PassOutput) -> dict:
        got = out.clusters.toPandas().sort_values("doc_id")
        if not keepers_ok(got, out.keepers, inp.truth.doc_id.values):
            return {"ok": False, "dup_pair_recall": 0.0, "false_merge_docs": 0,
                    "components": 0}
        labels, oracle = got.cluster_id.values, inp.truth.oracle.values
        comp = pd.Series(oracle).map(pd.Series(oracle).value_counts()).values
        size = pd.Series(labels).map(pd.Series(labels).value_counts()).values
        return {
            # 1.0 exactly when every oracle component is kept together
            "dup_pair_recall": pair_recall(oracle, labels),
            "false_merge_docs": int((size > comp).sum()),
            "ok": bool(np.array_equal(labels, oracle)),
            "components": int(len(np.unique(labels))),
        }


WORKLOADS = {
    w.name: w
    for w in [
        CrawlWorkload(
            name="crawl_fuzzy",
            n_docs=3000,
            detectors=["exact", "minhash", "simhash"],
            recall_classes=["exact", "near_simhash"],
            with_store=False,
        ),
        CrawlWorkload(
            name="crawl_substring_ckpt",
            n_docs=1500,
            detectors=["exact", "suffix_array"],
            recall_classes=["exact", "substring", "boilerplate"],
            with_store=True,
        ),
        GraphWorkload(
            name="cluster_graph",
            shape={"chains": 8, "chain_len": 2000, "stars": 8,
                   "star_size": 1000, "cliques": 2000, "singletons": 4000},
            cc_broadcast_threshold=10_000,
        ),
    ]
}


def cleanup(spark, inp: Loaded) -> None:
    """Drop every cache and store a pass left behind; input tables are
    parquet reads and need no re-materialization."""
    spark.catalog.clearCache()
    for name in os.listdir(inp.work_dir):
        if name.startswith("store-"):
            shutil.rmtree(os.path.join(inp.work_dir, name), ignore_errors=True)
