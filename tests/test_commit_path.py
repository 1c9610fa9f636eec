"""The commit path's file metadata: what a staged file carries into the
snapshot, and that building it needs no Python worker.

Row counts, min/max stats and bloom sidecars come from the staged
parquet files on the driver (storage.MoonTable._stage_files); batch keys
are hashed on the driver too (_bloom_prune).  So a file that ends up
with no rows is dropped before the commit, and no executor ever has to
import this package.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.engine import MooncakeEngine
from pg_mooncake_spark.storage import MoonTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)
CHANGES = "id long, v string, __op string"


def _live(mt):
    files, _ = mt._snapshot(None)
    return files


class TestZeroRowFiles:
    def test_delete_only_mor_batch_adds_no_file(self, spark, tmp_path):
        mt = MoonTable(spark, str(tmp_path / "t"))
        mt.create(SCHEMA, primary_key=["id"])
        mt.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], SCHEMA))
        before = {d["name"] for d in _live(mt)}
        ch = spark.createDataFrame([(i, None, "D") for i in range(10)], CHANGES)
        v = mt.merge(ch, strategy="mor")
        assert mt._read_commit(v).op == "merge-mor"
        assert mt._read_commit(v).add == []
        assert {d["name"] for d in _live(mt)} == before
        assert all(d["rows"] > 0 for d in _live(mt))
        assert mt.read().count() == 0

    def test_cow_batch_emptying_a_file_drops_it(self, spark, tmp_path):
        mt = MoonTable(spark, str(tmp_path / "t"))
        mt.create(SCHEMA, primary_key=["id"])
        mt.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA).coalesce(1))
        mt.append(spark.createDataFrame([(7, "x"), (8, "y")], SCHEMA).coalesce(1))
        ch = spark.createDataFrame([(7, None, "D"), (8, None, "D")], CHANGES)
        v = mt.merge(ch, strategy="cow")
        assert mt._read_commit(v).op == "merge"
        live = _live(mt)
        assert live and all(d["rows"] > 0 for d in live)
        assert sum(d["rows"] for d in live) == 2
        assert sorted(tuple(r) for r in mt.read().collect()) == [(1, "a"), (2, "b")]
        # emptying the table entirely leaves an empty, readable snapshot
        mt.merge(spark.createDataFrame([(1, None, "D"), (2, None, "D")], CHANGES),
                 strategy="cow")
        assert _live(mt) == []
        assert mt.read().count() == 0
        assert mt.read(where="id = 1").count() == 0


@pytest.fixture()
def no_python_worker(spark, monkeypatch):
    """Any Arrow-batched Python worker pass raises (patched on the
    concrete DataFrame class, which overrides the abstract one)."""

    def boom(self, *a, **kw):
        raise AssertionError("Python worker pass in the commit path")

    for cls in {DataFrame, type(spark.range(1))}:
        monkeypatch.setattr(cls, "mapInPandas", boom)
        monkeypatch.setattr(cls, "mapInArrow", boom)


def test_commit_path_runs_no_python_worker(
    spark, tmp_path, monkeypatch, no_python_worker
):
    """append, a bloom-engaged change-feed merge on the driver path
    (many files, few keys), optimize and an MV refresh all commit
    without a Python worker pass."""
    _bloom_engaged_commit_path(
        spark, tmp_path, monkeypatch, MoonTable._DRIVER_MAX_ROWS
    )


def test_commit_path_on_the_spark_plan_runs_no_python_worker(
    spark, tmp_path, monkeypatch, no_python_worker
):
    """The same on the Spark plan: under a bound between the batch's 3
    keys and the rows of its candidate files the merge leaves the
    driver, and the Spark plan's own bloom pruning runs."""
    _bloom_engaged_commit_path(spark, tmp_path, monkeypatch, 150)


def _bloom_engaged_commit_path(spark, tmp_path, monkeypatch, bound):
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
    eng = MooncakeEngine(spark, str(tmp_path / "wh"))
    src = spark.range(0, 2000).select(
        "id", (F.col("id") % 5).cast("string").alias("v")
    ).repartition(8)
    eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
    eng.create_materialized_view("mv", "b", ["v"], {"n": ("count", "*")})
    mt = eng._moontable("b")
    mt.append(spark.createDataFrame([(5000, "9")], SCHEMA))

    pruned = []
    orig = MoonTable._bloom_filter_candidates

    def spy(self, candidates, hs):
        out = orig(self, candidates, hs)
        pruned.append((len(candidates), len(out)))
        return out

    monkeypatch.setattr(MoonTable, "_bloom_filter_candidates", spy)
    on_driver, spark_pruned = [], []
    orig_driver = MoonTable._merge_on_driver
    orig_prune = MoonTable._bloom_prune

    def driver_spy(self, *a, **kw):
        v = orig_driver(self, *a, **kw)
        on_driver.append(v is not None)
        return v

    def prune_spy(self, candidates, *a, **kw):
        out = orig_prune(self, candidates, *a, **kw)
        spark_pruned.append((len(candidates), len(out)))
        return out

    monkeypatch.setattr(MoonTable, "_merge_on_driver", driver_spy)
    monkeypatch.setattr(MoonTable, "_bloom_prune", prune_spy)
    v = eng.apply_changes(
        "b", spark.createDataFrame(
            [(3, "u", "U"), (1999, None, "D"), (7000, "n", "I")], CHANGES
        )
    )
    assert pruned and pruned[0][1] < pruned[0][0], "bloom pruning not engaged"
    if bound == 150:
        assert on_driver[:1] == [False], "the merge stayed on the driver"
        assert spark_pruned and spark_pruned[0][1] < spark_pruned[0][0], (
            "the Spark plan's bloom pruning not engaged"
        )
    else:
        assert on_driver[:1] == [True], "the merge left the driver path"
        assert not spark_pruned
    kinds = sorted(r["_change_type"] for r in mt.changes(v, v).collect())
    assert kinds == ["delete", "insert", "update_postimage", "update_preimage"]
    eng.optimize_table("b")
    eng.refresh_materialized_view("mv")
    got = {r["v"]: r["n"] for r in eng.materialized_view("mv").collect()}
    want = {r["v"]: r["count"] for r in eng.table("b").groupBy("v").count().collect()}
    assert got == want and got["u"] == 1 and got["9"] == 1
