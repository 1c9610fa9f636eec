"""The snapshot read path: py4j round trips, the scan memo, one
tombstone scan, and rename-era resolution.

``MoonTable.read`` memoizes the unexecuted scan of each immutable file
set, and the SQL router re-registers a mirror's temp view only when the
snapshot behind it changed (``SqlRouterMixin._bind_view``).  These tests
pin the cost of a repeated read and that the memo never serves a plan a
fresh build would not.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import os
import re
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.engine import MooncakeEngine
from pg_mooncake_spark.storage import MoonTable

ORDERS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("cust", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("prio", T.StringType(), True),
    ]
)
POINT = "SELECT id, cust, status, price, ts, prio FROM orders WHERE id = {}"
SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)
CHANGES = "id long, v string, __op string"


def _orders(spark, n: int):
    t0 = dt.datetime(2024, 3, 10, 6, 30)
    return spark.createDataFrame(
        [
            (i, i % 7, "OF"[i % 2], i * 1.5, t0 + dt.timedelta(hours=i), f"p{i % 3}")
            for i in range(n)
        ],
        ORDERS,
    )


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _parquet_scans(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"Relation \[[^\]]*\] parquet", plan))


@contextlib.contextmanager
def _py4j_calls(spark):
    """Count the py4j round trips this thread makes (the gateway
    client's send_command).  py4j's finalizer thread sends the deletes
    of garbage-collected Java references through the same client at
    arbitrary times; those are not work of the code being measured."""
    client = spark.sparkContext._gateway._gateway_client
    own = "send_command" in vars(client)
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    @functools.wraps(send)
    def counted(*a, **k):
        if threading.get_ident() == me:
            n[0] += 1
        return send(*a, **k)

    client.send_command = counted
    try:
        yield n
    finally:
        if own:
            client.send_command = send
        else:
            del client.send_command


class TestPy4jBudget:
    def test_repeated_point_read_and_first_read_after_write(self, spark, warehouse):
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table("orders", source_df=_orders(spark, 200), primary_key=["id"])
        eng.sql(POINT.format(1)).collect()  # first build of this snapshot
        with _py4j_calls(spark) as n:
            df = eng.sql(POINT.format(2))
        assert n[0] <= 10, f"repeated point read built with {n[0]} py4j calls"
        assert [r.id for r in df.collect()] == [2]
        eng.sql("UPDATE orders SET status = 'X' WHERE id = 3")
        with _py4j_calls(spark) as n:
            df = eng.sql(POINT.format(3))
        assert n[0] <= 40, f"first read after a write built with {n[0]} py4j calls"
        assert [(r.id, r.status) for r in df.collect()] == [(3, "X")]

    def test_point_read_of_a_table_with_tombstones(self, spark, warehouse):
        """A merge-on-read scan restores the column order in one JVM
        select of the joined name list, not one ``F.col`` per field
        (about 340 calls before, about 260 with it)."""
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table(
            "orders", source_df=_orders(spark, 400).repartition(4), primary_key=["id"]
        )
        t0 = dt.datetime(2024, 3, 10)
        for b in range(3):
            eng.apply_changes(
                "orders",
                spark.createDataFrame(
                    [(k, 1, "X", 1.0, t0, "p", "U") for k in range(b, 400, 40)],
                    T.StructType(ORDERS.fields + [T.StructField("__op", T.StringType())]),
                ),
                source_version=b + 1, strategy="mor",
            )
        assert eng._moontable("orders")._snapshot_full(None)[1], "no tombstones"
        with _py4j_calls(spark) as n:
            df = eng.sql(POINT.format(42))
        assert n[0] <= 300, f"point read with tombstones built with {n[0]} py4j calls"
        assert [(r.id, r.status) for r in df.collect()] == [(42, "X")]

    def test_scan_build_is_independent_of_the_file_count(self, spark, tmp_path):
        mt = MoonTable(spark, str(tmp_path / "t"))
        mt.create(SCHEMA, primary_key=["id"])
        mt.append(spark.range(0, 400).selectExpr("id", "CAST(id AS STRING) AS v")
                  .repartition(16))
        files, _ = mt._snapshot(None)
        assert len(files) == 16
        mt._read_files(files, SCHEMA)  # warm the per-gateway helpers
        counts = []
        for fs in (files[:1], files[:2], files):
            with _py4j_calls(spark) as n:
                df = mt._read_files(fs, SCHEMA)
            counts.append(n[0])
            assert df.count() == sum(d["rows"] for d in fs)
        assert counts[0] == counts[1] == counts[2], counts


class TestMemoSoundness:
    def test_drop_recreate_serves_new_incarnation(self, spark, warehouse):
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table("orders", source_df=_orders(spark, 5), primary_key=["id"])
        assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n == 5
        path = eng._moontable("orders").path
        eng.drop_table("orders")
        eng.create_table("orders", source_df=_orders(spark, 3), primary_key=["id"])
        assert eng._moontable("orders").path == path
        assert _rows(eng.sql("SELECT * FROM orders")) == _rows(_orders(spark, 3))

    def test_engine_on_new_session_resolves_its_own_views(self, spark, warehouse):
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table("orders", source_df=_orders(spark, 4), primary_key=["id"])
        assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n == 4
        s2 = spark.newSession()
        eng2 = MooncakeEngine(s2, warehouse)
        assert eng2.sql("SELECT count(*) AS n FROM orders").collect()[0].n == 4
        assert eng2.table("orders").sparkSession is s2
        assert eng.table("orders").sparkSession is spark
        assert eng2.table("orders") is not eng.table("orders")

    def test_user_view_under_mirror_alias_is_overwritten(self, spark, warehouse):
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table("orders", source_df=_orders(spark, 6), primary_key=["id"])
        count = "SELECT count(*) AS n FROM orders"
        assert eng.sql(count).collect()[0].n == 6
        spark.range(100).createOrReplaceTempView("orders")
        assert eng.sql(count).collect()[0].n == 6
        spark.catalog.dropTempView("orders")
        assert eng.sql(count).collect()[0].n == 6

    def test_delete_only_mor_commit_is_a_new_snapshot(self, spark, tmp_path):
        # the commit adds delete files and no data file: only the delete
        # part of the memo key changes
        mt = MoonTable(spark, str(tmp_path / "t"))
        mt.create(SCHEMA, primary_key=["id"])
        mt.append(spark.createDataFrame([(i, f"v{i}") for i in range(6)], SCHEMA))
        assert mt.read().count() == 6
        mt.merge(spark.createDataFrame([(2, None, "D")], CHANGES), strategy="mor")
        assert sorted(r.id for r in mt.read().collect()) == [0, 1, 3, 4, 5]
        assert mt.read(1).count() == 6

    def test_time_travel_to_vacuumed_version_fails_at_build(self, spark, warehouse):
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table("orders", source_df=_orders(spark, 6), primary_key=["id"])
        mt = eng._moontable("orders")
        v0 = mt.latest_version()
        eng.sql("UPDATE orders SET status = 'X'")  # rewrites every file
        q = f"SELECT * FROM orders VERSION AS OF {v0}"
        assert len(eng.sql(q).collect()) == 6
        assert len(mt.read(v0).collect()) == 6
        assert mt.vacuum(staging_grace_s=0) > 0
        with pytest.raises(AnalysisException):
            mt.read(v0)
        with pytest.raises(AnalysisException):
            eng.sql(q)
        assert len(eng.sql("SELECT * FROM orders").collect()) == 6

    def test_timezone_change_between_memo_hits_matches_fresh_build(
        self, spark, warehouse
    ):
        eng = MooncakeEngine(spark, warehouse)
        eng.create_table("orders", source_df=_orders(spark, 30), primary_key=["id"])
        q = ("SELECT id, CAST(ts AS STRING) AS s, hour(ts) AS h, "
             "CAST(ts AS DATE) AS d FROM orders")
        utc = _rows(eng.sql(q))
        tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            eng.sql("SET TimeZone = 'America/Los_Angeles'")
            assert eng.table("orders") is eng.table("orders")  # memo hit
            hit = _rows(eng.sql(q))
            MoonTable._purge_scans(eng._moontable("orders").path)
            fresh = _rows(eng.sql(q))
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz)
        assert hit == fresh
        assert hit != utc


def _mor_and_cow_twins(spark, root: str) -> dict:
    twins = {}
    for strategy in ("mor", "cow"):
        mt = MoonTable(spark, os.path.join(root, strategy))
        mt.create(SCHEMA, primary_key=["id"])
        mt.append(spark.createDataFrame([(i, f"v{i}") for i in range(30)], SCHEMA))
        for b in range(3):
            batch = (
                [(b * 5 + j, f"u{b}-{j}", "U") for j in range(3)]
                + [(b * 5 + 3, None, "D"), (100 + b, "new", "I")]
            )
            v = mt.merge(spark.createDataFrame(batch, CHANGES), strategy=strategy)
            assert mt._read_commit(v).op == ("merge-mor" if strategy == "mor" else "merge")
        twins[strategy] = mt
    return twins


def test_mor_reads_as_cow_twin_with_one_tombstone_scan(spark, tmp_path):
    twins = _mor_and_cow_twins(spark, str(tmp_path))
    mor = twins["mor"]
    files, dels, _ = mor._snapshot_full()
    assert len(dels) >= 3
    df = mor.read()
    assert _rows(df) == _rows(twins["cow"].read())
    # one scan of the data files, one of all the delete files
    assert _parquet_scans(df) == 2


def _alias_projection_read_files(self, files, schema, add_file_col=False):
    """Rename-era resolution by a per-column alias projection over each
    era's scan: the former ``MoonTable._read_files``, kept as the
    reference the positional rename must match."""
    groups: dict[tuple, list[dict]] = {}
    for d in files:
        key = tuple(sorted((d.get("phys") or {}).items()))
        groups.setdefault(key, []).append(d)
    parts = []
    for key, fs in groups.items():
        phys = dict(key)
        read_schema = T.StructType(
            [T.StructField(phys.get(f.name, f.name), f.dataType, True) for f in schema.fields]
        )
        gdf = self.spark.read.schema(read_schema).parquet(
            *[os.path.join(self.data_path, d["name"]) for d in fs]
        )
        cols = [F.col(phys.get(f.name, f.name)).alias(f.name) for f in schema.fields]
        if add_file_col:
            cols.append(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__file"))
        parts.append(gdf.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_rename_eras_match_alias_projection(spark, warehouse, monkeypatch):
    eng = MooncakeEngine(spark, warehouse)
    eng.create_table(
        "t",
        source_df=spark.createDataFrame([(i, f"v{i}") for i in range(20)], SCHEMA),
        primary_key=["id"],
        change_feed=True,
    )

    def batch(cols: str, rows: list):
        return spark.createDataFrame(rows, f"{cols}, __op string")

    eng.apply_changes("t", batch("id long, v string",
                                 [(1, "a", "U"), (2, None, "D"), (50, "n", "I")]),
                      strategy="mor")
    mt = eng._moontable("t")
    v_before = mt.latest_version()
    eng.sql("ALTER TABLE t RENAME COLUMN v TO txt")
    eng.apply_changes("t", batch("id long, txt string",
                                 [(3, "b", "U"), (4, None, "D"), (51, "m", "I")]),
                      strategy="mor")
    eng.sql("ALTER TABLE t RENAME COLUMN id TO key")
    eng.apply_changes("t", batch("key long, txt string",
                                 [(1, "c", "U"), (5, None, "D"), (52, "o", "I")]),
                      strategy="mor")
    eng.sql("INSERT INTO t VALUES (60, 'p')")
    files, dels, _ = mt._snapshot_full()
    data_eras = {tuple(sorted((d.get("phys") or {}).items())) for d in files}
    del_eras = {tuple(sorted((d.get("phys") or {}).items())) for d in dels}
    assert len(data_eras) == 3 and len(del_eras) == 3

    def observe() -> dict:
        MoonTable._purge_scans(mt.path)
        out = {
            "read": mt.read(),
            "sql": eng.sql("SELECT * FROM t"),
            "as_of": eng.sql(f"SELECT * FROM t VERSION AS OF {v_before}"),
            "changes": mt.changes(),
        }
        return {k: (df.columns, _rows(df)) for k, df in out.items()}

    got = observe()
    assert got["read"][0] == ["key", "txt"]
    assert got["as_of"][0] == ["id", "v"]
    assert _parquet_scans(mt.read()) == len(data_eras) + len(del_eras)
    monkeypatch.setattr(MoonTable, "_read_files", _alias_projection_read_files)
    assert observe() == got
