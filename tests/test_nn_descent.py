"""Behavioral tests for the NN-Descent graph-ANN tier (beyond the
oracle parity sweep, which proves Spark == DuckDB but not that the
algorithm is WORTH running): the descent must strictly improve on its
LSH-multiprobe seed, reach near-perfect recall where the data has real
neighborhood structure, and keep the graph's structural invariants.

Reference scope note: ANN is beyond-reference surface (the reference
implements word count only, src/mr/function.rs:9-20); this tier extends
the similarity family SURVEY.md §2 grades as first-class.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapreduce_rs_spark.operators import similarity
from mapreduce_rs_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def shipped(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def clustered(spark):
    """20 well-separated Gaussian clusters of 30 (within-cluster cosine
    ~0.96, between ~0.0): every exact top-16 neighbor is a cluster
    mate, so a correct descent must recover ~all of them even though
    the LSH seed splits clusters across buckets."""
    rng = np.random.RandomState(0)
    cents = rng.normal(size=(20, 64)) * 5
    rows = [
        (i, (cents[i % 20] + rng.normal(size=64)).astype("float32").tolist(), i % 20)
        for i in range(600)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )


def test_descent_improves_over_seed(shipped):
    """rounds=0 is the multiprobe seed graph alone; the descent rounds
    must add real recall on the shipped (weakly clustered) corpus.
    Measured: seed ~2090 bp, descent ~8516 bp — the margins pinned here
    leave room for corpus regeneration, not for regression."""
    seed = similarity.nn_descent_recall(shipped, rounds=0).toPandas()
    full = similarity.nn_descent_recall(shipped).toPandas()
    assert full.recall_bp.mean() > seed.recall_bp.mean() + 2000
    assert full.recall_bp.mean() >= 7000


def test_clustered_corpus_reaches_high_recall(clustered):
    """Where neighborhoods are real, the graph tier must be near-exact
    (measured 10000 bp; the seed alone reads ~4570 — so this also
    proves the descent finds neighbors the seed provably missed,
    i.e. it crosses bucket boundaries)."""
    seed = similarity.nn_descent_recall(clustered, rounds=0).toPandas()
    full = similarity.nn_descent_recall(clustered).toPandas()
    assert seed.recall_bp.mean() < 9000  # seed alone is NOT enough
    assert full.recall_bp.mean() >= 9500


def test_graph_invariants(shipped):
    g = similarity.nn_descent_knn_graph(shipped).toPandas()
    assert (g.vec_id != g.nbr_id).all(), "self-edge"
    # each round's reverse-neighbor window relies on unique edges for a
    # total (cos_sim desc, member) order (see nn_descent_knn_graph)
    assert not g.duplicated(["vec_id", "nbr_id"]).any(), "duplicate edge"
    assert g.cos_sim.between(-1.0 - 1e-12, 1.0 + 1e-12).all()
    per = g.groupby("vec_id")
    assert (per.size() <= similarity.NND_K).all()
    # rnk is contiguous 1..n per node and ordered by (cos DESC, nbr_id)
    for vid, grp in list(per)[:25]:
        grp = grp.sort_values("rnk")
        assert list(grp.rnk) == list(range(1, len(grp) + 1))
        key = list(zip(-grp.cos_sim.round(12), grp.nbr_id))
        assert key == sorted(key)


def test_every_node_has_edges(shipped):
    """The multiprobe seed gives every node >= 7 buckets of
    representatives to score, so no node may end isolated."""
    g = similarity.nn_descent_knn_graph(shipped).toPandas()
    n_corpus = shipped.count()
    assert g.vec_id.nunique() == n_corpus


def test_graph_search_answers_from_the_graph(shipped):
    """Serving path: beam search over the built graph must land near
    the exact answer (measured recall@10 = 0.972 on the shipped
    corpus) — and strictly above the graph's own edge recall, because
    the beam explores past direct edges."""
    exact = similarity.knn_bruteforce(shipped, 10).toPandas()
    got = similarity.knn_graph_search(shipped, 10).toPandas()
    e = exact.groupby("q_id").vec_id.apply(set)
    s = got.groupby("q_id").vec_id.apply(set)
    recall = sum(len(e[q] & s.get(q, set())) for q in e.index) / (len(e) * 10)
    assert recall >= 0.85
    # output shape matches the knn_* tier convention
    assert list(got.columns) == ["q_id", "vec_id", "cos_sim", "rnk"]
    assert (got.groupby("q_id").size() <= 10).all()
    assert (got.q_id != got.vec_id).all(), "self in results"
