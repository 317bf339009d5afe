"""Local vs reliable checkpoint seam (VERDICT r9 #5).

The engine truncates lineage in four hot paths (lsh_candidates,
bm25_search, random_walks, connected_components). ``localCheckpoint``
blocks live in executor storage only — on a cluster, one lost executor
kills the query — so ``SPARK_GRAFT_CHECKPOINT=reliable`` must route the
same call sites through a reliable (checkpoint-dir backed) checkpoint
WITHOUT changing any result. These tests pin both modes to identical
outputs on every seamed operator.
"""

import glob

import pytest
from py4j.protocol import Py4JError


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _in_mode(monkeypatch, tmp_path, mode, fn):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", mode)
    monkeypatch.setenv(
        "SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt")
    )
    try:
        return fn()
    finally:
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT", raising=False)


def test_connected_components_identical_across_modes(
    spark, monkeypatch, tmp_path
):
    from etl_capnz_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20), (11, 12)],
        "id_a long, id_b long",
    )
    out = {
        mode: _in_mode(
            monkeypatch,
            tmp_path,
            mode,
            lambda: _rows(connected_components(edges)),
        )
        for mode in ("local", "reliable")
    }
    assert out["local"] == out["reliable"]
    assert out["local"]  # non-trivial
    # reliable mode actually materialized into the checkpoint dir
    assert glob.glob(str(tmp_path / "ckpt" / "*" / "rdd-*")), (
        "reliable mode must write RDD checkpoints under the configured dir"
    )


def test_random_walks_and_bm25_identical_across_modes(
    spark, monkeypatch, tmp_path
):
    from etl_capnz_spark.operators.graph import random_walks
    from etl_capnz_spark.operators.text import bm25_search

    pairs = [(i, (i * 3) % 7 + 1) for i in range(1, 8)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} beta") for i in range(1, 9)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "beta gamma")], "query_id long, query string"
    )

    def run():
        walks = _rows(random_walks(edges, walk_len=2))
        hits = _rows(
            bm25_search(docs, "text", "doc_id", queries, top_k=3)
        )
        return walks, hits

    out = {
        mode: _in_mode(monkeypatch, tmp_path, mode, run)
        for mode in ("local", "reliable")
    }
    assert out["local"] == out["reliable"]
    assert out["local"][0] and out["local"][1]


def test_cc_impl_modes_identical(spark, monkeypatch):
    """SPARK_GRAFT_CC_IMPL variants (aqe default / part / part_adaptive)
    label identically — the partitioned loop only changes plan shape
    (AQE off + preserved hash partitioning + data-sized parallelism)."""
    from etl_capnz_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)]
        + [(100, 200), (300, 300), (200, 101)],
        "id_a long, id_b long",
    )
    out = {}
    for mode in ("aqe", "part", "part_adaptive"):
        monkeypatch.setenv("SPARK_GRAFT_CC_IMPL", mode)
        out[mode] = _rows(connected_components(edges))
    monkeypatch.delenv("SPARK_GRAFT_CC_IMPL", raising=False)
    assert out["aqe"] == out["part"] == out["part_adaptive"]
    # and the session confs were restored by the loop wrapper
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_walk_impl_modes_identical(spark, monkeypatch):
    """SPARK_GRAFT_WALK_IMPL variants (prepart default / aqe r9) walk
    identically — prepart only changes plan shape (pre-partitioned
    adjacency checkpoints + subset co-partitioning)."""
    from etl_capnz_spark.operators.graph import random_walks

    pairs = [(i, (i * 7) % 23 + 1) for i in range(1, 40)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    out = {}
    for mode in ("aqe", "prepart"):
        monkeypatch.setenv("SPARK_GRAFT_WALK_IMPL", mode)
        out[mode] = _rows(random_walks(edges, walk_len=3))
    monkeypatch.delenv("SPARK_GRAFT_WALK_IMPL", raising=False)
    assert out["aqe"] == out["prepart"]
    assert spark.conf.get(
        "spark.sql.requireAllClusterKeysForCoPartition"
    ) == "true"


def _origin_stats(df):
    """The ``originStats`` a checkpoint's ``LogicalRDD`` carries (second
    constructor parameter list: session, originStats, originConstraints)."""
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    return plan.otherCopyArgs().apply(1)


@pytest.mark.parametrize("mode", ["local", "reliable"])
@pytest.mark.parametrize("eager", [True, False])
def test_flat_checkpoint_carries_no_origin_stats(
    spark, monkeypatch, tmp_path, mode, eager
):
    from etl_capnz_spark.session import engine_checkpoint, flat_local_checkpoint

    df = spark.range(1000).selectExpr("id", "id % 7 AS k").repartition(4, "k")
    flat = _in_mode(
        monkeypatch, tmp_path, mode, lambda: flat_local_checkpoint(df, eager)
    )
    assert not _origin_stats(flat).isDefined()
    default = int(spark.conf.get("spark.sql.defaultSizeInBytes").rstrip("b"))
    assert flat._jdf.queryExecution().analyzed().stats().sizeInBytes() == default
    assert _rows(flat) == _rows(df)
    # the plain checkpoint is what inherits them
    plain = _in_mode(
        monkeypatch, tmp_path, mode, lambda: engine_checkpoint(df, eager)
    )
    assert _origin_stats(plain).isDefined()


class _JvmWithoutLogicalRDD:
    """A JVM view on which ``LogicalRDD`` cannot be found, as after a Spark
    upgrade that moved or renamed it; everything else resolves as usual."""

    def __init__(self, real, path=""):
        self._real, self._path = real, path

    def __getattr__(self, name):
        path = f"{self._path}.{name}".lstrip(".")
        if path == "org.apache.spark.sql.execution.LogicalRDD":
            raise Py4JError(f"{path} does not exist in the JVM")
        return _JvmWithoutLogicalRDD(getattr(self._real, name), path)

    def __call__(self, *args):
        return self._real(*args)


def test_flat_checkpoint_refuses_to_return_inherited_stats(spark, monkeypatch):
    """Without the internal constructor there is no flat plan to build;
    handing back the plain checkpoint instead would silently bring back
    the compounding size estimates the helper exists to prevent."""
    from etl_capnz_spark.session import flat_local_checkpoint

    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    monkeypatch.setattr(spark, "_jvm", _JvmWithoutLogicalRDD(spark._jvm))
    with pytest.raises(Py4JError):
        out = flat_local_checkpoint(df)
        assert not _origin_stats(out).isDefined()
