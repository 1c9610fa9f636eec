"""Change feed + incremental materialized views.

The feed contract (storage.MoonTable.changes) and the view-maintenance
invariant — incremental refresh ≡ from-scratch GROUP BY over the final
state — across every DML path (merge CoW + MOR, update_where,
delete_where), plus the non-incremental cases (min/max retraction
recompute, emptied groups, NULL semantics).
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.engine import MooncakeEngine
from pg_mooncake_spark.storage import MoonTable, MoonTableError
from pg_mooncake_spark.views import MaterializedView

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("g", T.StringType(), True),
        T.StructField("x", T.DoubleType(), True),
    ]
)


@pytest.fixture(params=["driver", "spark"])
def refresh_path(request, monkeypatch):
    """Both refresh folds: as shipped (a window of one driver-merged
    commit folds on the driver) and with the driver fold refused, so
    every fold runs the Spark plan.  Yields the fold counts; on
    teardown asserts that the path under test ran."""
    ran = {"driver": 0, "spark": 0}
    on_driver = MaterializedView._fold_on_driver
    with_spark = MaterializedView._fold_with_spark

    def driver(self, *a, **k):
        ok = request.param == "driver" and on_driver(self, *a, **k)
        ran["driver"] += ok
        return ok

    def spark(self, *a, **k):
        ran["spark"] += 1
        return with_spark(self, *a, **k)

    monkeypatch.setattr(MaterializedView, "_fold_on_driver", driver)
    monkeypatch.setattr(MaterializedView, "_fold_with_spark", spark)
    yield ran
    assert ran[request.param] > 0, ran


def _mk(spark, path, rows, change_feed=True):
    mt = MoonTable(spark, str(path))
    mt.create(SCHEMA, primary_key=["id"], change_feed=change_feed)
    mt.append(spark.createDataFrame(rows, SCHEMA))
    return mt


def _feed(mt, **kw):
    return {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in mt.changes(**kw).collect()
    }


class TestChangeFeed:
    def test_merge_classification(self, spark, tmp_path):
        mt = _mk(spark, tmp_path / "t", [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)])
        ch = spark.createDataFrame(
            [(2, "a", 20.0, "U"), (3, None, None, "D"), (4, "b", 4.0, "I"),
             (9, None, None, "D")],
            "id int, g string, x double, __op string",
        )
        mt.merge(ch)
        got = _feed(mt, start_version=2)
        assert got == {
            (2, "update_preimage", 2),
            (2, "update_postimage", 2),
            (3, "delete", 2),
            (4, "insert", 2),
            # id 9 absent: delete of a missing key emits nothing
        }
        # pre-image carries OLD values, post-image NEW
        rows = {
            (r["id"], r["_change_type"]): r["x"]
            for r in mt.changes(start_version=2).collect()
        }
        assert rows[(2, "update_preimage")] == 2.0
        assert rows[(2, "update_postimage")] == 20.0

    def test_merge_mor_path_tracks_changes(self, spark, tmp_path):
        mt = _mk(spark, tmp_path / "t", [(i, "a", float(i)) for i in range(1, 9)])
        for i in range(4):  # several files so MOR can trigger
            mt.append(
                spark.createDataFrame([(100 + i, "b", 1.0)], SCHEMA)
            )
        ch = spark.createDataFrame(
            [(i, "a", -1.0, "U") for i in range(1, 9)]
            + [(100, None, None, "D")],
            "id int, g string, x double, __op string",
        )
        v = mt.merge(ch, strategy="mor")
        assert mt._read_commit(v).op == "merge-mor"
        got = {ct for (_i, ct, _v) in _feed(mt, start_version=v)}
        assert got == {"update_preimage", "update_postimage", "delete"}
        assert len(_feed(mt, start_version=v)) == 17

    def test_update_delete_where(self, spark, tmp_path):
        mt = _mk(spark, tmp_path / "t", [(1, "a", 1.0), (2, "b", 2.0)])
        mt.update_where("g = 'a'", {"x": "x * 10"})
        mt.delete_where("id = 2")
        got = _feed(mt, start_version=2)
        assert got == {
            (1, "update_preimage", 2),
            (1, "update_postimage", 2),
            (2, "delete", 3),
        }

    def test_optimize_invisible_overwrite_blocks(self, spark, tmp_path):
        mt = _mk(spark, tmp_path / "t", [(1, "a", 1.0), (2, "b", 2.0)])
        mt.optimize(target_partitions=1)
        assert {ct for (_i, ct, _v) in _feed(mt)} == {"insert"}
        mt.overwrite(spark.createDataFrame([(5, "z", 0.0)], SCHEMA))
        with pytest.raises(MoonTableError, match="overwrite"):
            mt.changes().count()
        # and a range starting past the overwrite works again
        assert mt.changes(start_version=mt.latest_version() + 1).count() == 0

    def test_untracked_dml_raises(self, spark, tmp_path):
        mt = _mk(spark, tmp_path / "t", [(1, "a", 1.0)], change_feed=False)
        mt.delete_where("id = 1")
        with pytest.raises(MoonTableError, match="change tracking"):
            mt.changes().count()

    def test_version_window(self, spark, tmp_path):
        mt = _mk(spark, tmp_path / "t", [(1, "a", 1.0)])
        mt.append(spark.createDataFrame([(2, "b", 2.0)], SCHEMA))
        mt.delete_where("id = 1")
        assert {v for (_i, _ct, v) in _feed(mt, start_version=2, end_version=2)} == {2}
        assert {v for (_i, _ct, v) in _feed(mt, start_version=3)} == {3}


def _truth(eng, base, gb, exprs):
    return (
        eng.table(base)
        .groupBy(gb)
        .agg(*exprs)
        .orderBy(gb)
        .collect()
    )


class TestMaterializedView:
    def _setup(self, spark, warehouse, aggs):
        eng = MooncakeEngine(spark, warehouse)
        rows = [(i, "g%d" % (i % 3), float(i)) for i in range(1, 31)]
        src = spark.createDataFrame(rows, SCHEMA)
        eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
        eng.create_materialized_view("v", "b", ["g"], aggs)
        return eng

    def test_incremental_matches_recompute(self, spark, warehouse, refresh_path):
        eng = self._setup(
            spark,
            warehouse,
            {"s": ("sum", "x"), "n": ("count", "*"), "a": ("avg", "x")},
        )
        ch = spark.createDataFrame(
            [(5, "g2", 500.0, "U"), (6, "g0", 600.0, "U"),  # g-migration upsert
             (7, None, None, "D"), (31, "g1", 31.0, "I")],
            "id int, g string, x double, __op string",
        )
        eng.apply_changes("b", ch, source_version=1)
        got = [tuple(r) for r in eng.materialized_view("v").orderBy("g").collect()]
        want = [
            tuple(r)
            for r in _truth(
                eng, "b", "g",
                [F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"),
                 (F.sum("x") / F.count("x")).alias("a")],
            )
        ]
        assert got == want

    def test_minmax_retraction_recompute(self, spark, warehouse):
        eng = self._setup(
            spark, warehouse, {"lo": ("min", "x"), "hi": ("max", "x")}
        )
        # delete the min of g1 (id=1? ids 1..30, g=id%3 → g1 holds 1,4,..28;
        # min x = 1.0) and the max of g2 (id 29)
        eng.delete_where("b", "id = 1 OR id = 29")
        got = [tuple(r) for r in eng.materialized_view("v").orderBy("g").collect()]
        want = [
            tuple(r)
            for r in _truth(
                eng, "b", "g", [F.min("x").alias("lo"), F.max("x").alias("hi")]
            )
        ]
        assert got == want

    def test_group_vanishes_and_appears(self, spark, warehouse, refresh_path):
        eng = self._setup(spark, warehouse, {"n": ("count", "*")})
        eng.delete_where("b", "g = 'g0'")
        ch = spark.createDataFrame(
            [(99, "brand_new", 9.0, "I")], "id int, g string, x double, __op string"
        )
        eng.apply_changes("b", ch, source_version=2)
        got = {r["g"]: r["n"] for r in eng.materialized_view("v").collect()}
        assert "g0" not in got
        assert got["brand_new"] == 1
        assert got["g1"] == 10 and got["g2"] == 10

    def test_null_semantics(self, spark, warehouse, refresh_path):
        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [(1, "a", None), (2, "a", None), (3, "b", 5.0)], SCHEMA
        )
        eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
        eng.create_materialized_view(
            "v", "b", ["g"], {"s": ("sum", "x"), "a": ("avg", "x"), "nx": ("count", "x")}
        )
        rows = {r["g"]: r for r in eng.materialized_view("v").collect()}
        assert rows["a"]["s"] is None and rows["a"]["a"] is None and rows["a"]["nx"] == 0
        # a NULL-x insert into b keeps SUM null; a real value flips it
        ch = spark.createDataFrame(
            [(4, "a", None, "I"), (5, "b", 7.0, "I")],
            "id int, g string, x double, __op string",
        )
        eng.apply_changes("b", ch, source_version=1)
        rows = {r["g"]: r for r in eng.materialized_view("v").collect()}
        assert rows["a"]["s"] is None and rows["a"]["nx"] == 0
        assert rows["b"]["s"] == 12.0 and rows["b"]["nx"] == 2

    def test_refresh_is_incremental_not_rescan(self, spark, warehouse, refresh_path):
        """The refresh reads the change feed, not the base table: after
        refresh, the view spec pins the base version, and a second
        refresh with no new commits is a no-op."""
        eng = self._setup(spark, warehouse, {"n": ("count", "*")})
        entry = eng.catalog.get("v")
        mv = MaterializedView(spark, entry["path"])
        v0 = mv.spec()["base_version"]
        state_v0 = mv.state.latest_version()
        assert mv.refresh() == v0
        assert mv.state.latest_version() == state_v0  # no state commit
        ch = spark.createDataFrame(
            [(50, "g0", 1.0, "I")], "id int, g string, x double, __op string"
        )
        eng.apply_changes("b", ch, source_version=1)
        assert mv.spec()["base_version"] > v0


class TestFilteredView:
    def test_predicate_migration(self, spark, warehouse, refresh_path):
        """Rows migrating across the predicate boundary: out-migration is
        a pure retraction, in-migration a pure addition."""
        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [(i, "open" if i % 2 == 0 else "closed", float(i)) for i in range(1, 21)],
            SCHEMA,
        )
        eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
        eng.create_materialized_view(
            "v", "b", ["g"], {"s": ("sum", "x"), "n": ("count", "*")},
            where="g = 'open'",
        )
        # wait: g is the group AND the predicate column -> migrating rows
        # change group too; use a steadier shape instead
        eng.drop_table("v")
        eng.drop_table("b")
        src = spark.createDataFrame(
            [(i, "g%d" % (i % 2), float(i)) for i in range(1, 21)], SCHEMA
        )
        eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
        eng.create_materialized_view(
            "v", "b", ["g"], {"s": ("sum", "x"), "n": ("count", "*")},
            where="x < 100",
        )
        ch = spark.createDataFrame(
            [
                (2, "g0", 500.0, "U"),   # migrates OUT (x >= 100)
                (3, "g1", 50.0, "U"),    # stays in, new value
                (21, "g0", 2000.0, "I"), # inserts OUT of predicate
                (22, "g0", 22.0, "I"),   # inserts into predicate
            ],
            "id int, g string, x double, __op string",
        )
        eng.apply_changes("b", ch, source_version=1)
        got = {r["g"]: (r["s"], r["n"]) for r in eng.table("v").collect()}
        want = {
            r["g"]: (r["s"], r["n"])
            for r in eng.table("b")
            .filter("x < 100")
            .groupBy("g")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want

    def test_engine_table_and_sql_resolve_view(self, spark, warehouse):
        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 3.0), (3, "b", 5.0)], SCHEMA
        )
        eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
        eng.create_materialized_view("v", "b", ["g"], {"s": ("sum", "x")})
        # table() hides maintenance columns
        assert set(eng.table("v").columns) == {"g", "s"}
        rows = {
            r["g"]: r["s"]
            for r in eng.sql("SELECT g, s FROM v ORDER BY g").collect()
        }
        assert rows == {"a": 4.0, "b": 5.0}
        import pytest as _pytest

        with _pytest.raises(ValueError, match="version"):
            eng.table("v", version=1)


DSCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("g", T.StringType(), True),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("d", T.DecimalType(12, 2), True),
    ]
)
DCHANGES = "id int, g string, x double, d decimal(12,2), __op string"


def _drow(i: int, g: str, op: str | None = None) -> tuple:
    row = (i, g, None if i % 5 == 0 else float(i), Decimal(f"{i}.25"))
    return row if op is None else row + (op,)


class TestDriverFold:
    """The driver fold (MaterializedView._fold_on_driver) and the Spark
    fold both leave the view a from-scratch GROUP BY would compute."""

    AGGS = {
        "n": ("count", "*"), "nx": ("count", "x"), "s": ("sum", "x"),
        "sd": ("sum", "d"), "sc": ("sum", "CAST(x AS DECIMAL(18,2))"),
        "a": ("avg", "x"), "lo": ("min", "x"), "hi": ("max", "d"),
    }

    @staticmethod
    def _truth(eng, aggs):
        exprs = []
        for out, (fn, e) in aggs.items():
            col = F.lit(1) if e == "*" else F.expr(e)
            if fn == "avg":
                exprs.append((F.sum(col) / F.count(col)).alias(out))
            elif fn == "count":
                exprs.append(F.count(col).alias(out))
            else:
                exprs.append(getattr(F, fn)(col).alias(out))
        rows = eng.table("b").groupBy("g").agg(*exprs).collect()
        return sorted((tuple(r) for r in rows), key=repr)

    @staticmethod
    def _view(eng, name):
        rows = eng.materialized_view(name).collect()
        return sorted((tuple(r) for r in rows), key=repr)

    def test_every_aggregate_folds_like_a_recompute(
        self, spark, warehouse, refresh_path
    ):
        """count/sum/avg/min/max with NULL inputs and decimal sums, a
        new group, a group migration and an emptied group.  A batch
        retracting a min/max extreme folds that view with Spark."""
        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [_drow(i, f"g{i % 4}") for i in range(1, 25)], DSCHEMA
        )
        eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
        sums = {k: self.AGGS[k] for k in ("n", "nx", "s", "sd", "sc", "a")}
        eng.create_materialized_view("v", "b", ["g"], self.AGGS)
        eng.create_materialized_view("w", "b", ["g"], sums)
        batches = [
            # no extreme retracted: both views fold on the driver
            [(9, "g1", 90.0, Decimal("9.50"), "U"),
             _drow(14, "g2", "D"),
             (30, "g1", None, Decimal("0.10"), "I"),
             (31, "g9", 5.5, Decimal("100.00"), "I"),
             (7, "g2", 7.0, Decimal("7.25"), "U")],  # g3 → g2
            # g1's max d and g2's min x retract: v folds with Spark
            [_drow(21, "g1", "D"), (2, "g2", 200.0, Decimal("2.25"), "U")],
            # g9 empties, g7 appears
            [(31, None, None, None, "D"), (40, "g7", 1.0, Decimal("1.00"), "I")],
        ]
        for sv, rows in enumerate(batches, start=1):
            eng.apply_changes(
                "b", spark.createDataFrame(rows, DCHANGES), source_version=sv
            )
            assert self._view(eng, "v") == self._truth(eng, self.AGGS)
            assert self._view(eng, "w") == self._truth(eng, sums)
        assert "g9" not in {r[0] for r in self._view(eng, "w")}
        want = {"driver": 4, "spark": 2} if refresh_path["driver"] else \
            {"driver": 0, "spark": 6}
        assert refresh_path == want

    def test_null_group_key_folds_as_the_spark_plan(
        self, spark, tmp_path, monkeypatch
    ):
        """A NULL group key addresses no state row on either path (the
        state merge matches keys with SQL equality); the driver fold
        leaves exactly the state the Spark fold leaves, and every
        non-NULL group equals the recompute."""
        batches = [
            [(1, None, 10.0, Decimal("1.00"), "U"), (50, None, 2.0, Decimal("2.00"), "I"),
             (51, "g1", None, Decimal("3.00"), "I")],
            [(50, None, None, None, "D"), (3, None, 3.5, Decimal("3.50"), "U")],
        ]
        aggs = {"n": ("count", "*"), "s": ("sum", "x"), "sd": ("sum", "d")}
        folds = {"driver": 0}
        on_driver = MaterializedView._fold_on_driver

        def counted(self, *a, **k):
            ok = on_driver(self, *a, **k)
            folds["driver"] += ok
            return ok

        views = {}
        for path in ("driver", "spark"):
            monkeypatch.setattr(
                MaterializedView, "_fold_on_driver",
                counted if path == "driver" else (lambda *a, **k: False),
            )
            eng = MooncakeEngine(spark, str(tmp_path / path))
            src = spark.createDataFrame(
                [_drow(i, None if i % 4 == 0 else f"g{i % 4}") for i in range(1, 13)],
                DSCHEMA,
            )
            eng.create_table(
                "b", source_df=src, primary_key=["id"], change_feed=True
            )
            eng.create_materialized_view("v", "b", ["g"], aggs)
            for sv, rows in enumerate(batches, start=1):
                eng.apply_changes(
                    "b", spark.createDataFrame(rows, DCHANGES), source_version=sv
                )
            views[path] = self._view(eng, "v")
            keyed = [r for r in views[path] if r[0] is not None]
            assert keyed == [r for r in self._truth(eng, aggs) if r[0] is not None]
        assert views["driver"] == views["spark"]
        assert folds["driver"] == 2

    def test_two_level_cascade_folds_on_the_driver(
        self, spark, warehouse, refresh_path
    ):
        """The level-1 state's own driver merge memoizes its change set,
        so the level-2 view folds from it on the driver too."""
        eng = MooncakeEngine(spark, warehouse)
        rows = [(i, "skip" if i % 7 == 0 else "keep", float(i)) for i in range(60)]
        eng.create_table(
            "base2",
            source_df=spark.createDataFrame(rows, SCHEMA).withColumn(
                "id_mod", F.col("id") % 11
            ),
            primary_key=["id"], change_feed=True,
        )
        eng.create_materialized_view(
            "lvl1", "base2", ["id_mod"], {"c": ("count", "*")},
            where="g <> 'skip'", state_change_feed=True,
        )
        eng.create_materialized_view("lvl2", "lvl1", ["c"], {"n": ("count", "*")})
        ch = "id int, g string, x double, id_mod int, __op string"
        batches = [
            [(3, "keep", 3.0, 3, "D"), (100, "keep", 1.0, 1, "I")],
            [(14, "keep", 14.0, 3, "U"), (15, "skip", 15.0, 4, "U")],
            [(101, "keep", 1.0, 2, "I"), (102, "keep", 1.0, 3, "I"),
             (4, None, None, None, "D")],
        ]
        for sv, rows in enumerate(batches, start=1):
            eng.apply_changes("base2", spark.createDataFrame(rows, ch),
                              source_version=sv)
            assert {
                (r["c"], r["n"]) for r in eng.materialized_view("lvl2").collect()
            } == TestChainedViews()._expected(eng)
        if refresh_path["driver"]:
            assert refresh_path == {"driver": 6, "spark": 0}

    def test_window_of_several_commits_takes_the_spark_plan(
        self, spark, tmp_path, refresh_path
    ):
        base = MoonTable(spark, str(tmp_path / "b"))
        base.create(SCHEMA, primary_key=["id"], change_feed=True)
        base.append(spark.createDataFrame(
            [(i, f"g{i % 3}", float(i)) for i in range(1, 13)], SCHEMA
        ))
        mv = MaterializedView.create(
            spark, str(tmp_path / "v"), base, ["g"],
            {"s": ("sum", "x"), "n": ("count", "*")},
        )
        ch = "id int, g string, x double, __op string"
        base.merge(spark.createDataFrame([(1, "g1", 10.0, "U")], ch))
        base.merge(spark.createDataFrame([(2, None, None, "D")], ch))
        mv.refresh()  # two commits: only the second's change set is held
        assert refresh_path == {"driver": 0, "spark": 1}
        base.merge(spark.createDataFrame([(50, "g0", 5.0, "I")], ch))
        mv.refresh()
        got = {(r.g, r.s, r.n) for r in mv.read().collect()}
        want = {
            (r.g, r.s, r.n) for r in base.read().groupBy("g").agg(
                F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert got == want

    def test_restart_between_state_commit_and_spec_save(
        self, spark, tmp_path, refresh_path, monkeypatch
    ):
        """The state commit carries the base version it reflects: a
        refresh that dies before saving the spec is not folded twice."""
        base = MoonTable(spark, str(tmp_path / "b"))
        base.create(SCHEMA, primary_key=["id"], change_feed=True)
        base.append(spark.createDataFrame(
            [(i, f"g{i % 3}", float(i)) for i in range(1, 13)], SCHEMA
        ))
        path = str(tmp_path / "v")
        MaterializedView.create(
            spark, path, base, ["g"], {"s": ("sum", "x"), "n": ("count", "*")}
        )
        base.merge(spark.createDataFrame(
            [(1, "g1", 10.0, "U"), (60, "g2", 6.0, "I")],
            "id int, g string, x double, __op string",
        ))
        save = MaterializedView._save_spec

        def crash(self, spec):
            raise RuntimeError("crash before the spec save")

        monkeypatch.setattr(MaterializedView, "_save_spec", crash)
        with pytest.raises(RuntimeError, match="crash"):
            MaterializedView(spark, path).refresh()
        monkeypatch.setattr(MaterializedView, "_save_spec", save)
        mv = MaterializedView(spark, path)
        assert mv.refresh() == base.latest_version()
        got = {(r.g, r.s, r.n) for r in mv.read().collect()}
        want = {
            (r.g, r.s, r.n) for r in base.read().groupBy("g").agg(
                F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert got == want


def test_streaming_sync_keeps_view_fresh(spark, tmp_path):
    """MVs refresh inside every micro-batch of the sync loop: after the
    freshness barrier, the view must reflect the synced state."""
    import os

    from pg_mooncake_spark.streaming.cdc import start_sync

    eng = MooncakeEngine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, g string, x double"
    )
    eng.create_table("live", source_df=src, primary_key=["k"], change_feed=True)
    eng.create_materialized_view(
        "agg", "live", ["g"], {"s": ("sum", "x"), "n": ("count", "*")}
    )
    stream_dir = str(tmp_path / "changes")
    os.makedirs(stream_dir)
    stream = spark.readStream.schema(
        "k int, g string, x double, __op string"
    ).parquet(stream_dir)
    q = start_sync(
        eng, "live", stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        processing_time="1 second",
    )
    try:
        spark.createDataFrame(
            [(2, "b", 25.0, "U"), (3, "a", 5.0, "I"), (1, None, None, "D")],
            "k int, g string, x double, __op string",
        ).write.mode("append").parquet(stream_dir)
        eng.wait_for_source_version("live", 1, timeout=60)
        got = {r["g"]: (r["s"], r["n"]) for r in eng.table("agg").collect()}
        assert got == {"a": (5.0, 1), "b": (25.0, 1)}
    finally:
        q.stop()


def test_refresh_never_reads_base_for_distributive_aggs(
    spark, tmp_path, refresh_path
):
    """The O(changes) contract, proven physically: a sum/count/avg view
    refreshes from the change feed alone — even with every base DATA
    file deleted, the refresh succeeds (only min/max retractions may
    touch the base)."""
    import os
    import shutil

    base = MoonTable(spark, str(tmp_path / "b"))
    base.create(SCHEMA, primary_key=["id"], change_feed=True)
    base.append(
        spark.createDataFrame(
            [(i, "g%d" % (i % 2), float(i)) for i in range(1, 11)], SCHEMA
        )
    )
    mv = MaterializedView.create(
        spark, str(tmp_path / "v"), base, ["g"],
        {"s": ("sum", "x"), "n": ("count", "*"), "a": ("avg", "x")},
    )
    ch = spark.createDataFrame(
        [(1, "g1", 100.0, "U"), (2, None, None, "D")],
        "id int, g string, x double, __op string",
    )
    base.merge(ch)
    # trash the base's data plane; keep the log + change files
    for f in os.listdir(base.path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(base.path, f))
    shutil.rmtree(os.path.join(base.path, "_index"), ignore_errors=True)
    mv.refresh()
    got = {r["g"]: (r["s"], r["n"]) for r in mv.read().collect()}
    # truth computed by hand: g0={2..10 even}: ids 2,4,6,8,10 minus del(2)
    # = 4+6+8+10 = 28, n=4; g1={odd}: 1->100, so 100+3+5+7+9=124, n=5
    assert got == {"g0": (28.0, 4), "g1": (124.0, 5)}


def test_vacuum_changes_retention(spark, tmp_path):
    import os

    mt = _mk(spark, tmp_path / "t", [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
    mt.delete_where("id = 1")   # v2
    mt.delete_where("id = 2")   # v3
    ch_dir = os.path.join(mt.path, "_changes")
    n_before = len(os.listdir(ch_dir))
    assert n_before == 2
    mt.vacuum(staging_grace_s=0, changes_retention_versions=1)
    # only the head commit's change file survives
    assert len(os.listdir(ch_dir)) == 1
    assert mt.changes(start_version=3).count() == 1
    with pytest.raises(Exception):
        mt.changes(start_version=2, end_version=2).collect()


def test_full_feed_mode_appends_tracked(spark, tmp_path):
    mt = MoonTable(spark, str(tmp_path / "t"))
    mt.create(SCHEMA, primary_key=["id"], change_feed="full")
    mt.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    mt.delete_where("id = 1")
    got = _feed(mt)
    assert got == {
        (1, "insert", 1),
        (2, "insert", 1),
        (1, "delete", 2),
    }
    import os

    # the _changes dir alone is the complete log (streamability)
    ch = os.path.join(mt.path, "_changes")
    n = spark.read.parquet(ch).count()
    assert n == 3


def test_mirror_chaining_via_feed_stream(spark, tmp_path):
    """Mirror → feed stream → downstream mirror: the downstream follows
    the upstream through stream_changes + feed_as_ops + start_sync, and
    converges to the same state (the reference's replication fan-out,
    one hop deeper)."""
    import os

    from pg_mooncake_spark.streaming.cdc import feed_as_ops, start_sync

    eng = MooncakeEngine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    eng.create_table("up", source_df=src, primary_key=["id"], change_feed="full")
    # downstream starts from the upstream's current state
    eng.create_table("down", source_df=eng.table("up"), primary_key=["id"])
    stream = feed_as_ops(eng.stream_changes("up"))
    q = start_sync(
        eng, "down", stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        processing_time="1 second",
    )
    try:
        ch = spark.createDataFrame(
            [(2, "B", 20.0, "U"), (3, "c", 3.0, "I"), (1, None, None, "D")],
            "id int, g string, x double, __op string",
        )
        eng.apply_changes("up", ch, source_version=1)
        import time

        deadline = time.monotonic() + 60
        want = sorted(
            (r["id"], r["g"], r["x"]) for r in eng.table("up").collect()
        )
        while time.monotonic() < deadline:
            got = sorted(
                (r["id"], r["g"], r["x"]) for r in eng.table("down").collect()
            )
            if got == want:
                break
            time.sleep(0.5)
        assert got == want
    finally:
        q.stop()


def test_auto_compact_policy(spark, tmp_path):
    eng = MooncakeEngine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([(i, "g", float(i)) for i in range(1, 9)], SCHEMA)
    eng.create_table(
        "t", source_df=src, primary_key=["id"],
        table_config={"auto_compact_files": 4},
    )
    mt = eng._moontable("t")
    for i in range(10, 16):
        ch = spark.createDataFrame(
            [(i, "g", float(i), "I")], "id int, g string, x double, __op string"
        )
        eng.apply_changes("t", ch, source_version=i)
        files, dels, _ = mt._snapshot_full(None)
        assert len(files) + len(dels) < 4 + 1  # folded whenever threshold hit
    assert eng.table("t").count() == 8 + 6


def test_list_tables_reports_view_staleness(spark, tmp_path):
    eng = MooncakeEngine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    eng.create_table("b", source_df=src, primary_key=["id"], change_feed=True)
    eng.create_materialized_view("v", "b", ["g"], {"n": ("count", "*")})
    rows = {r["table"]: r for r in eng.list_tables().collect()}
    assert rows["b"]["kind"] == "mirror" and rows["b"]["staleness"] is None
    assert rows["v"]["kind"] == "mview" and rows["v"]["staleness"] == 0
    # a direct storage-layer commit (bypassing the engine) leaves the
    # view stale until the next refresh — and list_tables shows it
    mt = eng._moontable("b")
    mt.append(spark.createDataFrame([(2, "b", 2.0)], SCHEMA))
    rows = {r["table"]: r for r in eng.list_tables().collect()}
    assert rows["v"]["staleness"] == 1
    eng.refresh_materialized_view("v")
    rows = {r["table"]: r for r in eng.list_tables().collect()}
    assert rows["v"]["staleness"] == 0


class TestRenameSurvival:
    """VERDICT r8 task 7: engine.rename_column remaps MV specs in place
    (agg/where expressions by identifier; a renamed GROUP BY key also
    renames the view state table's key column)."""

    def _mk(self, spark, warehouse):
        from pg_mooncake_spark.engine import MooncakeEngine

        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
            "k int, grp string, amt double",
        )
        eng.create_table(
            "base", source_df=src, primary_key=["k"],
            table_config={"change_feed": True},
        )
        eng.create_materialized_view(
            "mv", "base", ["grp"],
            {
                "total": ("sum", "amt"),
                "n": ("count", "*"),
                "mx": ("max", "amt + 0.5"),
            },
            where="amt > 5",
        )
        return eng

    def test_agg_column_rename_then_refresh(self, spark, warehouse):
        eng = self._mk(spark, warehouse)
        eng.rename_column("base", "amt", "amount")
        eng.sql("UPDATE base SET amount = amount + 1 WHERE k = 1")
        eng.sql("INSERT INTO base VALUES (4, 'b', 40.0)")
        got = sorted(tuple(r) for r in eng.materialized_view("mv").collect())
        assert got == [("a", 31.0, 2, 20.5), ("b", 70.0, 2, 40.5)]

    def test_group_key_rename_renames_view_column(self, spark, warehouse):
        eng = self._mk(spark, warehouse)
        eng.rename_column("base", "grp", "bucket")
        eng.sql("INSERT INTO base VALUES (5, 'a', 50.0)")
        mv = eng.materialized_view("mv")
        assert mv.columns == ["bucket", "total", "n", "mx"]
        got = sorted(tuple(r) for r in mv.collect())
        assert got == [("a", 80.0, 3, 50.5), ("b", 30.0, 1, 30.5)]

    def test_where_predicate_remaps(self, spark, warehouse):
        eng = self._mk(spark, warehouse)
        eng.rename_column("base", "amt", "amount")
        # row below the filter must stay excluded under the new name
        eng.sql("INSERT INTO base VALUES (9, 'a', 1.0)")
        got = {r["grp"]: r["n"] for r in eng.materialized_view("mv").collect()}
        assert got == {"a": 2, "b": 1}

    def test_rewrite_ident_is_string_safe(self):
        from pg_mooncake_spark.views import _rewrite_ident

        assert _rewrite_ident("amt + amtx + 'amt'", "amt", "z") == (
            "z + amtx + 'amt'"
        )
        assert _rewrite_ident('"amt" || s.amt', "amt", "z") == '"z" || s.amt'
        assert _rewrite_ident("upper(amt)", "amt", "z") == "upper(z)"


class TestSqlMatviewSpellings:
    """Round 13: CREATE / DROP / REFRESH MATERIALIZED VIEW SQL routes."""

    def _eng(self, spark, warehouse):
        from pg_mooncake_spark.engine import MooncakeEngine

        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "a", 40.0)],
            "k int, grp string, amt double",
        )
        eng.create_table(
            "base_s", source_df=src, primary_key=["k"], change_feed=True
        )
        return eng

    def test_create_refresh_drop_roundtrip(self, spark, warehouse):
        import pytest

        eng = self._eng(spark, warehouse)
        eng.sql(
            "CREATE MATERIALIZED VIEW mv_s AS "
            "SELECT grp, sum(CAST(amt AS DECIMAL(30,2))) AS total, "
            "count(*) AS n FROM base_s WHERE k <> 4 GROUP BY grp"
        )
        got = {r.grp: (float(r.total), r.n) for r in eng.table("mv_s").collect()}
        assert got == {"a": (30.0, 2), "b": (30.0, 1)}
        # DML folds incrementally through the same spelling
        eng.sql("DELETE FROM base_s WHERE k = 1")
        got = {r.grp: (float(r.total), r.n) for r in eng.table("mv_s").collect()}
        assert got == {"a": (20.0, 1), "b": (30.0, 1)}
        # REFRESH is a no-op returning the current base version
        v = eng.sql("REFRESH MATERIALIZED VIEW mv_s").collect()[0]
        assert v.statement == "REFRESH MATERIALIZED VIEW"
        # IF NOT EXISTS on an existing matview: no-op, no error
        eng.sql(
            "CREATE MATERIALIZED VIEW IF NOT EXISTS mv_s AS "
            "SELECT grp, count(*) AS n FROM base_s GROUP BY grp"
        )
        with pytest.raises(ValueError, match="already exists"):
            eng.sql(
                "CREATE MATERIALIZED VIEW mv_s AS "
                "SELECT grp, count(*) AS n FROM base_s GROUP BY grp"
            )
        eng.sql("DROP MATERIALIZED VIEW mv_s")
        assert "mv_s" not in eng.catalog.list_tables()
        eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_s")
        with pytest.raises(ValueError, match="does not exist"):
            eng.sql("DROP MATERIALIZED VIEW mv_s")

    def test_unsupported_shapes_refuse_loudly(self, spark, warehouse):
        import pytest

        eng = self._eng(spark, warehouse)
        bad = [
            ("SELECT grp, count(*) AS n FROM base_s "
             "JOIN base_s b2 ON 1=1 GROUP BY grp", "JOIN"),
            ("SELECT grp, count(*) AS n FROM base_s GROUP BY grp "
             "HAVING count(*) > 1", "HAVING"),
            ("SELECT DISTINCT grp, count(*) AS n FROM base_s GROUP BY grp",
             "DISTINCT"),
            ("SELECT grp, count(*) AS n FROM base_s GROUP BY grp "
             "ORDER BY grp", "ORDER"),
            ("SELECT grp, count(*) FROM base_s GROUP BY grp", "alias"),
            ("SELECT amt, count(*) AS n FROM base_s GROUP BY grp", "match"),
            ("SELECT count(*) AS n FROM base_s", "GROUP BY"),
        ]
        for sql, frag in bad:
            with pytest.raises(ValueError, match=frag):
                eng.sql(f"CREATE MATERIALIZED VIEW nope AS {sql}")
        # DROP MATERIALIZED VIEW on a plain table refuses
        with pytest.raises(ValueError, match="not a materialized view"):
            eng.sql("DROP MATERIALIZED VIEW base_s")
        with pytest.raises(ValueError, match="not a materialized view"):
            eng.sql("REFRESH MATERIALIZED VIEW base_s")

    def test_matview_ddl_refused_in_txn(self, spark, warehouse):
        import pytest

        eng = self._eng(spark, warehouse)
        eng.sql("BEGIN")
        with pytest.raises(ValueError, match="transaction block"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_mv AS "
                "SELECT grp, count(*) AS n FROM base_s GROUP BY grp"
            )
        eng.sql("ROLLBACK")


class TestChainedViews:
    """Round 16: a view's state table can carry its own change feed
    (``state_change_feed=True``) so a SECOND view aggregates over the
    first — the two-level fold (q13 histogram shape).  The invariant:
    level-2 incremental state ≡ from-scratch two-level GROUP BY over
    the final base state, through inserts, deletes, and filter-crossing
    updates."""

    def _expected(self, eng):
        return {
            (r["c"], r["n"]) for r in (
                eng.table("base2")
                .where("g <> 'skip'")
                .groupBy("id_mod")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("c")
                .agg(F.count(F.lit(1)).alias("n"))
            ).collect()
        }

    @pytest.fixture()
    def eng(self, spark, warehouse):
        e = MooncakeEngine(spark, warehouse)
        rows = [(i, "skip" if i % 7 == 0 else "keep", float(i)) for i in range(60)]
        df = spark.createDataFrame(rows, SCHEMA).withColumn(
            "id_mod", F.col("id") % 11
        )
        e.create_table(
            "base2", source_df=df, primary_key=["id"], change_feed=True
        )
        e.create_materialized_view(
            "lvl1", "base2", ["id_mod"], {"c": ("count", "*")},
            where="g <> 'skip'", state_change_feed=True,
        )
        e.create_materialized_view(
            "lvl2", "lvl1", ["c"], {"n": ("count", "*")}
        )
        return e

    def _lvl2(self, eng):
        return {
            (r["c"], r["n"])
            for r in eng.materialized_view("lvl2").collect()
        }

    def test_initial_state_matches(self, eng):
        assert self._lvl2(eng) == self._expected(eng)

    def test_folds_through_both_levels(self, eng):
        eng.delete_where("base2", "id % 5 = 2")
        assert self._lvl2(eng) == self._expected(eng)
        # filter-crossing updates: rows leave and enter the level-1 view
        eng.update_where("base2", "id % 13 = 1", {"g": "'skip'"})
        eng.update_where("base2", "id % 7 = 0", {"g": "'keep'"})
        assert self._lvl2(eng) == self._expected(eng)
        # inserts move customers between buckets
        eng.insert(
            "base2",
            eng.spark.createDataFrame(
                [(100 + i, "keep", 1.0) for i in range(8)], SCHEMA
            ).withColumn("id_mod", (F.col("id") % 11)),
        )
        assert self._lvl2(eng) == self._expected(eng)

    def test_emptied_bucket_disappears(self, eng):
        eng.delete_where("base2", "true")
        assert self._lvl2(eng) == set() == self._expected(eng)

    def test_state_without_feed_refuses_second_level(
        self, spark, warehouse
    ):
        e = MooncakeEngine(spark, warehouse)
        df = spark.createDataFrame(
            [(1, "a", 1.0)], SCHEMA
        ).withColumn("id_mod", F.col("id") % 3)
        e.create_table(
            "base3", source_df=df, primary_key=["id"], change_feed=True
        )
        e.create_materialized_view(
            "l1", "base3", ["id_mod"], {"c": ("count", "*")}
        )  # no state_change_feed
        e.create_materialized_view("l2", "l1", ["c"], {"n": ("count", "*")})
        with pytest.raises(Exception, match="change"):
            # the first refresh needs the level-1 state's feed
            e.insert(
                "base3",
                spark.createDataFrame(
                    [(2, "b", 2.0)], SCHEMA
                ).withColumn("id_mod", F.col("id") % 3),
            )


class TestEnrichedJoinView:
    """Round-17 join-MV (VERDICT r16 task #5): a static dimension chain
    joined onto the fact before the aggregate, folded per change-feed
    image; dim churn refuses loudly."""

    @pytest.fixture()
    def eng5(self, spark, warehouse):
        e = MooncakeEngine(spark, warehouse)
        fact = spark.createDataFrame(
            [(1, 10, 100.0), (2, 10, 50.0), (3, 20, 25.0), (4, 30, 7.0)],
            "id int, dim_id int, amt double",
        )
        e.create_table(
            "fact", source_df=fact, primary_key=["id"], change_feed=True
        )
        dim = spark.createDataFrame(
            [(10, "red", True), (20, "blue", True), (30, "red", False)],
            "d_id int, color string, active boolean",
        )
        e.create_table("dim", source_df=dim)
        e.create_materialized_view(
            "by_color", "fact", ["color"],
            {"total": ("sum", "CAST(amt AS DECIMAL(20,2))"),
             "n": ("count", "*")},
            enrich=[{"table": "dim", "on": [("dim_id", "d_id")],
                     "cols": ["color"], "filter": "active"}],
        )
        return e

    def _read(self, e):
        return {
            (r.color, float(r.total), r.n)
            for r in e.materialized_view("by_color").collect()
        }

    def test_initial_state_joins_and_filters(self, eng5):
        # dim 30 is inactive: its fact row is outside the view
        assert self._read(eng5) == {("red", 150.0, 2), ("blue", 25.0, 1)}

    def test_fold_through_the_chain(self, eng5, spark):
        eng5.insert(
            "fact",
            spark.createDataFrame(
                [(5, 20, 75.0), (6, 30, 99.0)],
                "id int, dim_id int, amt double",
            ),
        )
        eng5.delete_where("fact", "id = 1")
        eng5.update_where("fact", "id = 2", {"amt": "60.0"})
        assert self._read(eng5) == {("red", 60.0, 1), ("blue", 100.0, 2)}

    def test_update_moving_row_across_dims(self, eng5):
        # re-pointing a fact row at another dim retracts from the old
        # group and adds to the new one (pre/post images enrich apart)
        eng5.update_where("fact", "id = 3", {"dim_id": "10"})
        assert self._read(eng5) == {("red", 175.0, 3)}

    def test_dim_churn_folds(self, eng5, spark):
        # round 18: dimension churn is ABSORBED by a bounded recompute
        # (views._fold_dim_churn) instead of refusing — an insert-only
        # dim replays from history even without change_feed=True
        eng5.insert(
            "dim",
            spark.createDataFrame(
                [(40, "green", True)], "d_id int, color string, active boolean"
            ),
        )
        eng5.insert(
            "fact",
            spark.createDataFrame(
                [(7, 40, 1.0)], "id int, dim_id int, amt double"
            ),
        )
        assert self._read(eng5) == {
            ("red", 150.0, 2), ("blue", 25.0, 1), ("green", 1.0, 1),
        }

    def test_minmax_recompute_through_chain(self, spark, warehouse):
        e = MooncakeEngine(spark, warehouse)
        fact = spark.createDataFrame(
            [(1, 10, 9.0), (2, 10, 5.0), (3, 20, 3.0)],
            "id int, dim_id int, amt double",
        )
        e.create_table(
            "f2", source_df=fact, primary_key=["id"], change_feed=True
        )
        e.create_table(
            "d2",
            source_df=spark.createDataFrame(
                [(10, "x"), (20, "y")], "d_id int, g string"
            ),
        )
        e.create_materialized_view(
            "mx", "f2", ["g"], {"mx": ("max", "amt")},
            enrich=[{"table": "d2", "on": [("dim_id", "d_id")],
                     "cols": ["g"]}],
        )
        # retracting the max forces the bounded recompute, which must
        # re-enrich the base rows
        e.delete_where("f2", "id = 1")
        got = {(r.g, r.mx) for r in e.materialized_view("mx").collect()}
        assert got == {("x", 5.0), ("y", 3.0)}


class TestStateSelfCompaction:
    """Round-17: refresh() compacts the view state every
    COMPACT_EVERY_FOLDS folds — a merge-on-read composed state read
    cost 12-19x the compacted read at sf10 (BASELINE.md r17 q3)."""

    def test_compaction_preserves_results_and_triggers(
        self, spark, warehouse
    ):
        e = MooncakeEngine(spark, warehouse)
        df = spark.createDataFrame(
            [(i, "g" + str(i % 3), float(i)) for i in range(30)], SCHEMA
        )
        e.create_table(
            "cb", source_df=df, primary_key=["id"], change_feed=True
        )
        e.create_materialized_view(
            "cbv", "cb", ["g"],
            {"total": ("sum", "CAST(x AS DECIMAL(20,2))")},
        )
        path = e.catalog.get("cbv")["path"]
        for i in range(30, 30 + MaterializedView.COMPACT_EVERY_FOLDS + 1):
            e.insert(
                "cb",
                spark.createDataFrame(
                    [(i, "g" + str(i % 3), float(i))], SCHEMA
                ),
            )
        mv = MaterializedView(spark, path)
        assert mv.spec().get("folds_since_compact", 0) < \
            MaterializedView.COMPACT_EVERY_FOLDS
        # the view still matches a from-scratch aggregate
        want = {
            (r.g, float(r.total))
            for r in e.table("cb").groupBy("g").agg(
                F.sum(F.col("x").cast("decimal(20,2)")).alias("total")
            ).collect()
        }
        got = {
            (r.g, float(r.total))
            for r in e.materialized_view("cbv").collect()
        }
        assert got == want

    def test_chained_view_unaffected_by_compaction(self, spark, warehouse):
        e = MooncakeEngine(spark, warehouse)
        df = spark.createDataFrame(
            [(i, "g" + str(i % 2), 1.0) for i in range(8)], SCHEMA
        )
        e.create_table(
            "cc", source_df=df, primary_key=["id"], change_feed=True
        )
        e.create_materialized_view(
            "l1c", "cc", ["g"], {"n": ("count", "*")},
            state_change_feed=True,
        )
        e.create_materialized_view("l2c", "l1c", ["n"], {"m": ("count", "*")})
        for i in range(8, 8 + MaterializedView.COMPACT_EVERY_FOLDS + 1):
            e.insert(
                "cc",
                spark.createDataFrame([(i, "g0", 1.0)], SCHEMA),
            )
        # level-1 compacted at least once in there; level-2 must match
        # a recompute over level-1 (compaction emitted NO feed rows)
        l1 = {(r.g, r.n) for r in e.materialized_view("l1c").collect()}
        counts = {}
        for _, n in l1:
            counts[n] = counts.get(n, 0) + 1
        l2 = {(r.n, r.m) for r in e.materialized_view("l2c").collect()}
        assert l2 == {(n, m) for n, m in counts.items()}
