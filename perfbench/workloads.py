"""The benchmark's workloads: which public layer functions each one calls,
at which scale, and how its outputs are checked.

Every workload is a list of *operations*. An operation is one call into a
layer's public function followed by its sink:

* a registry member: ``QuerySpec.fn(spark, sf_dir)``, then ``toPandas()``;
  the result is compared with the member's DuckDB oracle through
  ``tests/parity.py``;
* a store build: ``streaming.pipeline.build_graph_store`` and
  ``build_semdedup_store`` over the standing split (``vec_id % 10 < 8``);
* an admission batch: ``admitted_edges_from_store`` and
  ``semdedup_admit_batch`` over one held-out micro-batch, collected with
  ``toPandas()``. The union of a pass's batches is checked against the
  DuckDB oracles of ``knn_graph_ingest`` (per-batch edge counts and best
  cosine mass) and ``semdedup_ingest_audit`` (per-cluster ingest and drop
  counts), which define the same admission over the same split.
"""

from __future__ import annotations

import dataclasses
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    # registry members, run in this order every pass
    members: tuple[str, ...] = ()
    # store build + admission (the store_ingest workload)
    store: bool = False


# Scales are small so that a run, set-up included, stays under a minute on
# a 4-core box: there a single mapreduce pass at sf1.0 takes ~89 s.
WORKLOADS = {
    w.name: w
    for w in (
        # Scan, shuffle, executor CPU and the Python-worker paths:
        # the map/reduce surface with DataFrame and mapInPandas members.
        Workload(
            "mapreduce",
            0.02,
            members=(
                "wordcount",
                "q1_pricing_summary",
                "join_revenue_by_nation",
                "window_top_orders_per_customer",
                "dedup_exact",
                "minhash_signatures",
                "jpeg_decode_stats",
                "entity_match_customers",
            ),
        ),
        # Many small jobs, localCheckpoint materialization and driver
        # gaps (NN-Descent rounds inside the graph store build), parquet
        # stores written then re-read: both store builds over the
        # standing 80%, then the held-out 20% admitted in batches.
        Workload("store_ingest", 0.01, store=True),
    )
}

# The held-out split's micro-batches: batch b holds (vec_id div 10) %
# STORE_BATCHES == b, knn_graph_ingest's own batching of the same split,
# so the graph oracle's per-batch rows line up with the benchmark's.
STORE_BATCHES = 4


def graph_batch_summary(edges: pd.DataFrame, batch_id: int) -> dict:
    """Per-batch columns of ``knn_graph_ingest`` rebuilt from admitted
    (q_id, cand, cs) edges: vectors, edges and the quantized best-cosine
    mass (Spark's HALF_UP ``round`` on the decimal form of the double)."""
    best = edges.groupby("q_id")["cs"].max()
    bp = sum(
        int(Decimal(repr(float(v) * 10000)).quantize(Decimal(1), ROUND_HALF_UP))
        for v in best
    )
    return {
        "batch_id": batch_id,
        "n_vectors": int(edges["q_id"].nunique()),
        "n_edges": int(len(edges)),
        "sum_best_cos_bp": bp,
    }


def check_graph_admission(summaries: list[dict], oracle: pd.DataFrame) -> str | None:
    cols = ["batch_id", "n_vectors", "n_edges", "sum_best_cos_bp"]
    got = pd.DataFrame(summaries)[cols].sort_values("batch_id").reset_index(drop=True)
    want = oracle[cols].astype("int64").sort_values("batch_id").reset_index(drop=True)
    if not got.astype("int64").equals(want):
        return f"graph admission {got.to_dict('records')} != {want.to_dict('records')}"
    return None


def check_semdedup_admission(decisions: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    got = (
        decisions.groupby("cid")
        .agg(n_ingested=("vec_id", "size"), n_dropped=("is_dropped", "sum"))
        .reset_index()
        .rename(columns={"cid": "centroid_id"})
        .astype("int64")
        .sort_values("centroid_id")
        .reset_index(drop=True)
    )
    want = (
        oracle[["centroid_id", "n_ingested", "n_dropped"]]
        .astype("int64")
        .sort_values("centroid_id")
        .reset_index(drop=True)
    )
    if not got.equals(want):
        return f"semdedup admission {got.to_dict('records')} != {want.to_dict('records')}"
    return None
