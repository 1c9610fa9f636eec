"""The driver-side merge: a pinned batch whose candidate files are
driver-sized merges with pyarrow (storage.MoonTable._merge_on_driver),
every other merge runs the Spark plan.  Both must leave the same table.

Each scenario here runs twice, once with the driver bound at its value
and once with it patched to 0 (nothing fits the driver, so the Spark
plan runs), and the two tables must agree row for row: ``read()`` at
every version, the change feed, and the files as Spark reads them.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.engine import MooncakeEngine
from pg_mooncake_spark.storage import MoonTable

BOUND = MoonTable._DRIVER_MAX_ROWS

# every type of test_moontable_properties (int key and value, decimal)
# plus the rest a mirror carries; non-key values include NULLs
WIDE = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("b", T.ByteType(), True),
        T.StructField("sh", T.ShortType(), True),
        T.StructField("l", T.LongType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("dec", T.DecimalType(10, 2), True),
        T.StructField("dec38", T.DecimalType(38, 10), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("bin", T.BinaryType(), True),
        T.StructField("ok", T.BooleanType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ntz", T.TimestampNTZType(), True),
        T.StructField("arr", T.ArrayType(T.IntegerType()), True),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType()), True),
        T.StructField("st", T.StructType([T.StructField("x", T.LongType())]), True),
    ]
)


def _wide_row(k: int, seed: int, op: str | None = None) -> tuple:
    null = (k + seed) % 5 == 0
    t = dt.datetime(2024, 3, 10, 23, 30) + dt.timedelta(hours=k * 7 + seed)
    row = (
        k,
        None if null else (k * 3 + seed) % 120,
        (k * 7 + seed) % 30000,
        None if null else k * 10**12 + seed,
        k / 4 + seed,
        None if null else k * 1.5 - seed,
        decimal.Decimal(f"{k}.{seed % 100:02d}"),
        None if null else decimal.Decimal(f"{k * 1000}.0123456789"),
        None if null else f"s{k}-{seed}-ü",
        bytes([k % 256, seed % 256]),
        (k + seed) % 2 == 0,
        dt.date(1999, 12, 31) + dt.timedelta(days=k + seed),
        None if null else t,
        t,
        None if null else [k, seed, None],
        {"a": k, "b": seed},
        None if null else (k * seed,),
    )
    return row if op is None else row + (op,)


def _changes_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + [T.StructField("__op", T.StringType())])


def _state(mt: MoonTable) -> dict:
    """Everything a reader can see of ``mt``, as sorted reprs (NaN and
    nested values compare by their text)."""
    out = {
        f"v{v}": sorted(map(repr, mt.read(v).collect()))
        for v in mt._versions()
    }
    if mt.change_feed_enabled():
        out["feed"] = sorted(map(repr, mt.changes().collect()))
    out["schema"] = mt.schema().simpleString()
    return out


@pytest.fixture()
def twin(spark, tmp_path, monkeypatch):
    """Run ``scenario(mt)`` on the driver path and on the Spark path;
    assert every merge took its path, and return both states."""

    def run(scenario, tz: str = "UTC") -> dict:
        states = {}
        orig = MoonTable._merge_on_driver
        prior_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            for label, bound in (("driver", BOUND), ("spark", 0)):
                taken: list[bool] = []

                def spy(self, *a, **kw):
                    v = orig(self, *a, **kw)
                    taken.append(v is not None)
                    return v

                monkeypatch.setattr(MoonTable, "_merge_on_driver", spy)
                monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
                mt = MoonTable(spark, str(tmp_path / label))
                scenario(mt)
                if label == "driver":
                    assert taken and all(taken), "a merge left the driver path"
                else:
                    assert not taken
                states[label] = (mt, _state(mt))
        finally:
            spark.conf.set("spark.sql.session.timeZone", prior_tz)
            monkeypatch.setattr(MoonTable, "_merge_on_driver", orig)
            monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", BOUND)
        assert states["driver"][1] == states["spark"][1]
        return {k: mt for k, (mt, _) in states.items()}

    return run


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_type_parity_across_paths(spark, twin, tz):
    cs = _changes_schema(WIDE)

    def scenario(mt):
        mt.create(WIDE, primary_key=["k"], change_feed=True)
        mt.append(spark.createDataFrame([_wide_row(k, 0) for k in range(40)], WIDE)
                  .repartition(4))
        # auto (CoW here), forced MOR, then CoW over the MOR files: the
        # last merge concatenates Spark-written (INT96) and
        # driver-written (UTC) timestamps
        for seed, strategy in ((1, "auto"), (2, "mor"), (3, "cow")):
            rows = [_wide_row(k, seed, "U") for k in range(seed, 40, 6)]
            rows += [_wide_row(k, seed, "D") for k in range(seed + 3, 40, 12)]
            rows += [_wide_row(100 + seed * 10 + i, seed, "I") for i in range(3)]
            mt.merge(spark.createDataFrame(rows, cs), strategy=strategy)

    tables = twin(scenario, tz)
    drv = tables["driver"]
    # every driver-written file reads back through Spark equal to the
    # Spark-written files of the same commits, and stores us timestamps
    for v in drv._versions()[2:]:
        c, twin_c = drv._read_commit(v), tables["spark"]._read_commit(v)
        assert c.op == twin_c.op
        for mine, theirs in ((c.add, twin_c.add), (c.deletes, twin_c.deletes)):
            schema = WIDE if mine is c.add else T.StructType([WIDE["k"]])

            def rows(mt, ds, schema=schema):
                paths = [os.path.join(mt.data_path, d["name"]) for d in ds]
                if not paths:
                    return []
                return sorted(map(repr, spark.read.schema(schema).parquet(*paths)
                                  .collect()))

            assert rows(drv, mine) == rows(tables["spark"], theirs)
        for d in c.add:
            fs = pq.read_schema(os.path.join(drv.data_path, d["name"]))
            assert fs.field("ts").type == pa.timestamp("us", tz="UTC")
            assert fs.field("ntz").type == pa.timestamp("us")
            assert d["rows"] > 0 and d["bloom"] and d["stats"]["k"][0] is not None


def test_rename_eras_with_tombstones_in_several_eras(spark, twin):
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])

    def scenario(mt):
        mt.create(schema, primary_key=["id"], change_feed=True)
        mt.append(spark.range(0, 60).selectExpr("id", "CAST(id AS STRING) AS v")
                  .repartition(4))
        ch = "id long, v string, __op string"
        mt.merge(spark.createDataFrame([(1, "a", "U"), (2, None, "D")], ch),
                 strategy="mor")
        mt.rename_column("v", "w")
        mt.merge(spark.createDataFrame([(1, None, "D"), (3, "b", "U")],
                                       "id long, w string, __op string"),
                 strategy="mor")
        mt.rename_column("id", "key")
        # a key tombstoned in both earlier eras, re-inserted, then updated
        mt.merge(spark.createDataFrame([(1, "c", "I"), (4, "d", "U")],
                                       "key long, w string, __op string"),
                 strategy="mor")
        mt.merge(spark.createDataFrame([(1, "e", "U"), (3, None, "D"),
                                        (5, "f", "U")],
                                       "key long, w string, __op string"),
                 strategy="cow")

    tables = twin(scenario)
    got = {r["key"]: r["w"] for r in tables["driver"].read().collect()}
    assert got[1] == "e" and 2 not in got and 3 not in got and got[4] == "d"
    assert len(got) == 58


def test_evolved_column_and_widened_int(spark, twin):
    base = T.StructType([T.StructField("id", T.IntegerType()),
                         T.StructField("n", T.IntegerType())])

    def scenario(mt):
        mt.create(base, primary_key=["id"], change_feed=True)
        mt.append(spark.createDataFrame([(i, i * 10) for i in range(20)], base)
                  .repartition(2))
        # n widens int → long and a column arrives, in one batch
        mt.merge(spark.createDataFrame(
            [(1, 2**40, "x", "U"), (25, 7, None, "I"), (3, None, None, "D")],
            "id int, n long, extra string, __op string",
        ), on_schema_drift="evolve")
        mt.merge(spark.createDataFrame(
            [(2, 5, "y", "U"), (1, 6, None, "U")],
            "id int, n long, extra string, __op string",
        ), strategy="mor")
        mt.merge(spark.createDataFrame(
            [(4, 9, "z", "U")], "id int, n long, extra string, __op string",
        ), strategy="cow")

    tables = twin(scenario)
    got = {r["id"]: (r["n"], r["extra"]) for r in tables["driver"].read().collect()}
    assert got[1] == (6, None) and got[2] == (5, "y") and got[4] == (9, "z")
    assert got[5] == (50, None) and 3 not in got


def test_composite_pk_and_null_keys(spark, twin):
    schema = T.StructType([T.StructField("a", T.StringType()),
                           T.StructField("day", T.DateType()),
                           T.StructField("v", T.IntegerType())])
    ch = "a string, day date, v int, __op string"
    d0 = dt.date(2024, 1, 1)

    def scenario(mt):
        mt.create(schema, primary_key=["a", "day"], change_feed=True)
        mt.append(spark.createDataFrame(
            [(f"k{i % 5}", d0 + dt.timedelta(days=i // 5), i) for i in range(30)]
            + [(None, d0, -1)], schema,
        ).repartition(3))
        mt.merge(spark.createDataFrame(
            [("k1", d0, 100, "U"), ("k1", d0 + dt.timedelta(days=1), 0, "D"),
             ("k9", d0, 9, "I"), (None, d0, -2, "I"), (None, None, -3, "U")],
            ch,
        ))
        mt.merge(spark.createDataFrame(
            [("k1", d0, 101, "U"), ("k2", d0, 0, "D"), (None, d0, -4, "D")], ch,
        ), strategy="mor")
        mt.merge(spark.createDataFrame(
            [("k2", d0, 5, "I"), ("k3", d0, 6, "U")], ch,
        ), strategy="cow")

    tables = twin(scenario)
    got = sorted(((r["a"], r["day"], r["v"]) for r in tables["driver"].read().collect()),
                 key=repr)
    # a NULL key addresses no stored row: each NULL-key upsert adds one,
    # a NULL-key delete removes nothing
    assert {g for g in got if g[0] is None} == {
        (None, None, -3), (None, d0, -2), (None, d0, -1)
    }
    assert ("k1", d0, 101) in got and ("k2", d0, 5) in got and ("k3", d0, 6) in got


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_batch_repeating_a_key_keeps_the_spark_plan(
    spark, tmp_path, monkeypatch, strategy
):
    """The driver path's change classification assumes one change per
    key, so a batch repeating a key runs the Spark plan and stores what
    it stores there: every I/U row of the key (NULL keys never repeat)."""
    entered = []
    orig = MoonTable._merge_on_driver

    def spy(self, *a, **kw):
        entered.append(True)
        return orig(self, *a, **kw)

    monkeypatch.setattr(MoonTable, "_merge_on_driver", spy)
    got = {}
    for label, bound in (("driver", BOUND), ("spark", 0)):
        monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
        mt = MoonTable(spark, str(tmp_path / label))
        mt.create(spark.range(1).selectExpr("id", "'a' AS v").schema,
                  primary_key=["id"], change_feed=True)
        mt.append(spark.range(0, 50).selectExpr("id", "'a' AS v").repartition(4))
        mt.merge(spark.createDataFrame(
            [(3, "x", "U"), (3, "y", "U"), (42, "p", "I"), (42, "q", "I"),
             (None, "n", "I")],
            "id long, v string, __op string",
        ), strategy=strategy)
        got[label] = (sorted(map(repr, mt.read().collect())),
                      sorted(map(repr, mt.changes().collect())))
    assert not entered
    assert got["driver"] == got["spark"]
    assert sum("id=3," in r for r in got["driver"][0]) == 2


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"driver-merge-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge")
    try:
        fn()
    finally:
        sc.setJobGroup("other", "other")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "bound", [BOUND, 0, 10], ids=["driver", "spark", "over-bound"]
)
def test_job_budget(spark, tmp_path, monkeypatch, bound):
    """On the driver path a change-feed merge runs ONE Spark job, the
    pin; at bound 0 the Spark plan runs its own jobs.  A batch over a
    non-zero bound runs the pin and then the Spark plan over the
    checkpoint the pin stored.  Every batch has more keys than the
    table has files, so bloom pruning (whose key collect the bound also
    caps) stays out of all three."""
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
    mt = MoonTable(spark, str(tmp_path / "t"))
    mt.create(spark.range(1).selectExpr("id", "'a' AS v").schema,
              primary_key=["id"], change_feed=True)
    mt.append(spark.range(0, 200).selectExpr("id", "CAST(id AS STRING) AS v")
              .repartition(2))
    ch = "id long, v string, __op string"
    counts = []
    for rows, strategy in (
        ([(k, "u", "U") for k in range(0, 40, 2)] + [(1000, "n", "I")], "auto"),
        ([(k, "m", "U") for k in range(1, 40, 2)] + [(150, None, "D")], "mor"),
        ([(k, "c", "U") for k in range(40, 60)] + [(160, None, "D")], "cow"),
    ):
        df = spark.createDataFrame(rows, ch)
        counts.append(_jobs(spark, lambda: mt.merge(df, strategy=strategy)))
    if bound == BOUND:
        assert counts == [1, 1, 1]
    else:
        assert min(counts) > 5, counts
    feed = {}
    for r in mt.changes(2).collect():
        feed[r["_change_type"]] = feed.get(r["_change_type"], 0) + 1
    assert feed == {"update_preimage": 60, "update_postimage": 60, "delete": 2,
                    "insert": 1}


@pytest.mark.parametrize("bound", [BOUND, 2], ids=["twin", "checkpoint"])
def test_apply_changes_evaluates_the_batch_once(
    spark, warehouse, tmp_path, monkeypatch, bound
):
    """apply_changes pins the batch: merge and the export sync read the
    Arrow-backed twin, or, for a batch over the bound, the local
    checkpoint the pin's one job stored, so a source plan that counts
    its evaluations runs once; nothing the pin stored outlives the
    apply."""
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
    eng = MooncakeEngine(spark, warehouse)
    eng.create_table(
        "t", source_df=spark.range(0, 100).selectExpr("id", "'a' AS v"),
        primary_key=["id"], change_feed=True,
    )
    eng.attach_export("t", str(tmp_path / "exp"))
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for r in it:
            acc.add(1)
            yield r

    rdd = spark.sparkContext.parallelize(
        [(3, "u", "U"), (7, None, "D"), (500, "n", "I")], 1
    ).mapPartitions(tick)
    batch = spark.createDataFrame(rdd, "id long, v string, __op string")
    jsc = spark.sparkContext._jsc.sc()
    stored = len(jsc.getRDDStorageInfo())
    eng.apply_changes("t", batch)
    assert acc.value == 3
    # the pin's stored partitions are freed once the apply is done
    assert len(jsc.getRDDStorageInfo()) == stored
    got = {r["id"]: r["v"] for r in eng.table("t").collect()}
    assert got[3] == "u" and got[500] == "n" and 7 not in got


def test_apply_changes_with_a_view_runs_only_the_pin(spark, warehouse):
    """A change-feed mirror with one count/sum view: each apply runs
    exactly one Spark job, the pin.  The view folds on the driver from
    the merge's change set and its state merges a pinned batch, and
    the periodic state compaction skips a state that is one file."""
    from pg_mooncake_spark.views import MaterializedView

    eng = MooncakeEngine(spark, warehouse)
    eng.create_table(
        "t",
        source_df=spark.range(0, 300).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS g", "CAST(id AS DECIMAL(12,2)) AS x"
        ),
        primary_key=["id"], change_feed=True,
    )
    eng.create_materialized_view(
        "v", "t", ["g"], {"n": ("count", "*"), "s": ("sum", "x")}
    )
    ch = "id long, g string, x decimal(12,2), __op string"
    jobs = []
    for b in range(MaterializedView.COMPACT_EVERY_FOLDS + 1):
        rows = [(k, "u", decimal.Decimal(k), "U") for k in range(b, 300, 30)]
        rows += [(1000 + b, "n", decimal.Decimal("1.5"), "I"), (b + 1, None, None, "D")]
        df = spark.createDataFrame(rows, ch)
        jobs.append(_jobs(spark, lambda: eng.apply_changes("t", df, source_version=b + 1)))
    assert jobs == [1] * len(jobs)
    got = {(r.g, r.n, r.s) for r in eng.materialized_view("v").collect()}
    want = {
        (r.g, r.n, r.s)
        for r in eng.table("t").groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
        ).collect()
    }
    assert got == want


def test_change_set_memo_is_served_only_for_its_own_commit(spark, tmp_path):
    """driver_changes serves a driver merge's change set for that commit
    only: not for another version, not after a drop and recreate at the
    same path (create purges it), and not when the log's commit at that
    version names other change files — a recreate by another writer."""
    import shutil

    path = str(tmp_path / "t")
    ch = "id long, v string, __op string"

    def build():
        mt = MoonTable(spark, path)
        mt.create(spark.range(1).selectExpr("id", "'a' AS v").schema,
                  primary_key=["id"], change_feed=True)
        mt.append(spark.range(0, 10).selectExpr("id", "'a' AS v"))
        return mt, mt.merge(spark.createDataFrame([(3, "u", "U")], ch))

    mt, v = build()
    got = mt.driver_changes(v)
    assert [(r["id"], r["_change_type"]) for r in got.to_pylist()] == [
        (3, "update_preimage"), (3, "update_postimage")]
    assert mt.driver_changes(v - 1) is None
    stale = MoonTable._CHANGE_MEMO[os.path.normpath(path)]
    shutil.rmtree(path)
    mt, v2 = build()
    assert v2 == v
    MoonTable._CHANGE_MEMO[os.path.normpath(path)] = stale
    assert mt.driver_changes(v) is None
    MoonTable.invalidate_caches(path)
    assert mt.driver_changes(v) is None


@pytest.mark.parametrize("bound", [BOUND, 0], ids=["driver", "spark"])
def test_batch_columns_take_the_mirror_types(spark, warehouse, monkeypatch, bound):
    """Under on_schema_drift='fail' a batch column of another type is
    cast to the mirror's type with Spark's cast: a double 0.25 stored
    in decimal(23,1) is 0.3 (half up, as Postgres assigns it) on both
    paths, and later reads, the change feed and a compaction read the
    files back.  A value the cast cannot convert raises before anything
    is written."""
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
    eng = MooncakeEngine(spark, warehouse)
    eng.create_table(
        "t",
        source_df=spark.createDataFrame(
            [(1, decimal.Decimal("1.0"))], "k int, p decimal(23,1)"
        ),
        primary_key=["k"], change_feed=True,
    )
    ch = "k int, p double, __op string"
    eng.apply_changes(
        "t", spark.createDataFrame([(1, 0.25, "U"), (2, 1.0, "I")], ch),
        source_version=1,
    )
    mt = eng._moontable("t")
    mt.merge(spark.createDataFrame([(3, 2.25, "I")], ch))  # merge's own cast
    want = [(1, decimal.Decimal("0.3")), (2, decimal.Decimal("1.0")),
            (3, decimal.Decimal("2.3"))]
    assert sorted((r.k, r.p) for r in mt.read().collect()) == want
    assert {r["_change_type"] for r in mt.changes(2).collect()} == {
        "update_preimage", "update_postimage", "insert"
    }
    mt.optimize()
    assert sorted((r.k, r.p) for r in mt.read().collect()) == want
    v = mt.latest_version()
    before = sorted(os.listdir(mt.path))
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        eng.apply_changes(
            "t", spark.createDataFrame([(4, 1e30, "I")], ch), source_version=2
        )
    assert mt.latest_version() == v
    assert sorted(os.listdir(mt.path)) == before


def test_rows_over_the_bound_take_the_spark_path(spark, tmp_path, monkeypatch):
    """Candidate rows, not table rows, decide: with a bound below the
    table size a point merge stays on the driver when stats prune the
    candidates, and a merge whose candidates exceed it runs the Spark
    plan."""
    mt = MoonTable(spark, str(tmp_path / "t"))
    mt.create(spark.range(1).selectExpr("id", "'a' AS v").schema,
              primary_key=["id"])
    mt.append(spark.range(0, 400).selectExpr("id", "'a' AS v"))
    mt.optimize(target_partitions=4, sort_by=["id"])
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", 150)
    taken = []
    orig = MoonTable._merge_on_driver

    def spy(self, *a, **kw):
        v = orig(self, *a, **kw)
        taken.append(v is not None)
        return v

    monkeypatch.setattr(MoonTable, "_merge_on_driver", spy)
    ch = "id long, v string, __op string"
    mt.merge(spark.createDataFrame([(5, "x", "U")], ch))
    mt.merge(spark.createDataFrame([(5, "y", "U"), (390, "z", "U")], ch))
    assert taken == [True, False]
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    assert got[5] == "y" and got[390] == "z" and len(got) == 400


@pytest.mark.parametrize("bound", [150, 200], ids=["spark", "driver"])
def test_tombstones_count_toward_the_bound(spark, tmp_path, monkeypatch, bound):
    """The tombstones a driver merge would read count toward the bound:
    the 100 candidate rows fit 150, but with the 60 rows of the delete
    files that can remove them they do not, and the merge runs the
    Spark plan; under 200 it stays on the driver.  Either copy-on-write
    rewrite keeps the deleted rows deleted, tombstones of keys outside
    the batch included."""
    mt = MoonTable(spark, str(tmp_path / "t"))
    mt.create(spark.range(1).selectExpr("id", "'a' AS v").schema,
              primary_key=["id"])
    mt.append(spark.range(0, 100).selectExpr("id", "'a' AS v").coalesce(1))
    ch = "id long, v string, __op string"
    for lo in (10, 40, 70):  # three delete files of 20 keys
        mt.merge(
            spark.createDataFrame([(k, None, "D") for k in range(lo, lo + 20)], ch),
            strategy="mor",
        )
    taken = []
    orig = MoonTable._merge_on_driver

    def spy(self, *a, **kw):
        v = orig(self, *a, **kw)
        taken.append(v is not None)
        return v

    monkeypatch.setattr(MoonTable, "_merge_on_driver", spy)
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
    v = mt.merge(spark.createDataFrame([(5, "x", "U")], ch), strategy="cow")
    assert taken == [bound == 200] and mt._read_commit(v).op == "merge"
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    deleted = {k for lo in (10, 40, 70) for k in range(lo, lo + 20)}
    want = {k: "a" for k in range(100) if k not in deleted}
    want[5] = "x"
    assert got == want and len(got) == 40


@pytest.mark.parametrize("bound", [BOUND, 0], ids=["driver", "spark"])
def test_auto_flips_a_small_table_on_rows_per_key(
    spark, tmp_path, monkeypatch, bound
):
    """'auto' on a one-file table: a batch changing 2 of its 100 rows
    would copy 50 rows per changed key, so it commits merge-on-read; a
    batch changing 40 (2.5 rows per key, under 1 / 0.3) rewrites."""
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", bound)
    mt = MoonTable(spark, str(tmp_path / "t"))
    mt.create(spark.range(1).selectExpr("id", "'a' AS v").schema,
              primary_key=["id"])
    mt.append(spark.range(0, 100).selectExpr("id", "'a' AS v").coalesce(1))
    ch = "id long, v string, __op string"
    v = mt.merge(spark.createDataFrame([(1, "x", "U"), (2, None, "D")], ch))
    assert mt._read_commit(v).op == "merge-mor"
    v = mt.merge(spark.createDataFrame([(k, "y", "U") for k in range(40)], ch))
    assert mt._read_commit(v).op == "merge"
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    assert len(got) == 100 and got[2] == "y" and got[50] == "a"


def test_driver_merge_reads_spark_int96_and_writes_utc(spark, tmp_path):
    """The three timestamp forms meet in one CoW rewrite: a Spark INT96
    file (naive ns in pyarrow), the pinned batch (UTC us) and a
    driver-written file (UTC us)."""
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("ts", T.TimestampType())])
    mt = MoonTable(spark, str(tmp_path / "t"))
    mt.create(schema, primary_key=["id"])
    t0 = dt.datetime(2020, 6, 1, 12, 0, 0, 123456)
    mt.append(spark.createDataFrame([(i, t0) for i in range(4)], schema).coalesce(1))
    ch = "id long, ts timestamp, __op string"
    mt.merge(spark.createDataFrame([(9, t0, "I")], ch), strategy="mor")
    mt.merge(spark.createDataFrame([(1, None, "U"), (9, t0, "U")], ch), strategy="cow")
    got = sorted((r["id"], r["ts"]) for r in mt.read().collect())
    assert got == [(0, t0), (1, None), (2, t0), (3, t0), (9, t0)]
    files, _ = mt._snapshot(None)
    assert all(
        pq.read_schema(os.path.join(mt.data_path, d["name"])).field("ts").type
        in (pa.timestamp("us", tz="UTC"), pa.timestamp("ns"))
        for d in files
    )


def test_pinned_batch_raises_constraint_errors_from_the_pin(spark, warehouse):
    """A NOT NULL guard rides the batch plan: it fires while the batch
    is pinned, before anything is written."""
    eng = MooncakeEngine(spark, warehouse)
    eng.sql("CREATE TABLE g (id int PRIMARY KEY, q int NOT NULL)")
    eng.sql("INSERT INTO g VALUES (1, 1)")
    v0 = eng._moontable("g").latest_version()
    with pytest.raises(Exception, match="violates not-null constraint"):
        eng.apply_changes("g", spark.createDataFrame(
            [(2, None, "I")], "id int, q int, __op string"
        ))
    assert eng._moontable("g").latest_version() == v0
    assert [tuple(r) for r in eng.table("g").collect()] == [(1, 1)]


def test_pinned_frame_is_not_kept_alive_by_its_arrow(spark):
    import gc
    import weakref

    from pg_mooncake_spark.storage import is_pinned, pin_batch

    df = spark.createDataFrame([(1, "I")], "id long, __op string")
    pinned = pin_batch(df)
    assert is_pinned(pinned) and pin_batch(pinned) is pinned
    assert not is_pinned(df)
    assert pinned.collect() == df.collect()
    ref = weakref.ref(pinned)
    del pinned
    gc.collect()
    assert ref() is None
