"""Golden-flow lifecycle tests mirroring the reference's pg_regress corpus
(reference tests/pg_regress/sql/{sanity,partitioned_table}.sql and the
README quick-start) plus moontable mechanics the goldens imply.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.engine import MooncakeEngine, changes_df
from pg_mooncake_spark.storage import MoonTable


def _engine(spark, warehouse):
    return MooncakeEngine(spark, warehouse)


def test_sanity_flow(spark, warehouse):
    """reference tests/pg_regress/sql/sanity.sql:1-7 golden:
    insert (1,a)(2,b)(3,c) → UPDATE b = a+1 WHERE a>2 (int→text cast)
    → DELETE WHERE a<2 → mirror = {(2,'b'), (3,'4')}
    (golden expected/sanity.out:7-11)."""
    eng = _engine(spark, warehouse)
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    eng.create_table("c", source_df=src, primary_key=["a"])
    eng.update_where("c", "a > 2", {"b": "CAST(a + 1 AS STRING)"})
    eng.delete_where("c", "a < 2")
    rows = sorted(tuple(r) for r in eng.table("c").collect())
    assert rows == [(2, "b"), (3, "4")]


def test_partitioned_table_flow(spark, warehouse):
    """reference tests/pg_regress/sql/partitioned_table.sql:1-10 golden:
    range-partitioned source flattens into ONE mirror; insert 0..99 with
    b='val_'||g, DELETE a>90; counts 25 / 75 / 40
    (golden expected/partitioned_table.out:8-23)."""
    eng = _engine(spark, warehouse)
    # two source "partitions" [0,50) and [50,100) — mirrored into one table
    part1 = spark.range(0, 50).select(
        F.col("id").cast("int").alias("a"),
        F.concat(F.lit("val_"), F.col("id").cast("string")).alias("b"),
    )
    part2 = spark.range(50, 100).select(
        F.col("id").cast("int").alias("a"),
        F.concat(F.lit("val_"), F.col("id").cast("string")).alias("b"),
    )
    eng.create_table("p", source_df=part1, primary_key=["a"])
    eng.insert("p", part2)
    eng.delete_where("p", "a > 90")
    m = eng.table("p")
    assert m.filter("a < 25").count() == 25
    assert m.filter("a < 75").count() == 75
    assert m.filter("a < 25 OR a > 75").count() == 40


def test_trades_quickstart_flow(spark, warehouse):
    """reference README.md:58-92 quick-start: mirror `trades`, insert 4
    rows, avg(price) WHERE symbol='AMZN' = 208.5."""
    eng = _engine(spark, warehouse)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("symbol", T.StringType(), True),
            T.StructField("time", T.TimestampNTZType(), True),
            T.StructField("price", T.FloatType(), True),
        ]
    )
    ts = datetime.datetime(2025, 5, 23, 10, 0, 0)
    rows = [
        (1, "AMZN", ts, 200.0),
        (2, "AMZN", ts, 217.0),
        (3, "GOOG", ts, 170.0),
        (4, "GOOG", ts, 172.0),
    ]
    src = spark.createDataFrame(rows, schema)
    eng.create_table("trades_iceberg", source_df=src, primary_key=["id"])
    out = eng.sql(
        "SELECT avg(price) AS avg_price FROM trades_iceberg WHERE symbol = 'AMZN'"
    ).collect()
    assert out[0]["avg_price"] == 208.5


def test_merge_upsert_delete_semantics(spark, warehouse):
    """CDC merge: U upserts (update existing, insert absent), D ignores
    absent keys — logical-replication apply semantics."""
    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    eng.create_table("m", source_df=src, primary_key=["k"])
    changes = changes_df(
        spark.createDataFrame(
            [(2, "y2", "U"), (3, "z", "U"), (9, None, "D"), (1, None, "D")],
            "k int, v string, op string",
        ).select("k", "v", F.col("op").alias("__op")),
        op_col_expr="__op",
    ).drop("op")
    eng.apply_changes("m", changes, source_version=1)
    rows = sorted(tuple(r) for r in eng.table("m").collect())
    assert rows == [(2, "y2"), (3, "z")]


def test_snapshot_time_travel_and_read_your_writes(spark, warehouse):
    """Version pinning: reads pin the flush watermark; older versions stay
    readable (reference LSN pinning, src/duckdb_mooncake.rs:26-29)."""
    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(i, i * 10) for i in range(10)], "k int, v int")
    eng.create_table("tt", source_df=src, primary_key=["k"])
    v1 = eng.create_snapshot("tt")
    eng.delete_where("tt", "k >= 5")
    v2 = eng.create_snapshot("tt")
    assert eng.table("tt", version=v1).count() == 10
    assert eng.table("tt", version=v2).count() == 5
    assert eng.table("tt").count() == 5  # read-your-writes: sees the delete
    # a third session-level write then an immediate read
    eng.insert("tt", spark.createDataFrame([(100, 1)], "k int, v int"))
    assert eng.table("tt").count() == 6


def test_list_tables_and_drop(spark, warehouse):
    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "a")], "k int, v string")
    eng.create_table("t1", source_df=src, primary_key=["k"])
    eng.create_table("t2", source_df=src, primary_key=["k"])
    listed = {r["table"] for r in eng.list_tables().collect()}
    assert listed == {"t1", "t2"}
    eng.drop_table("t1")
    listed = {r["table"] for r in eng.list_tables().collect()}
    assert listed == {"t2"}
    import os

    assert not os.path.isdir(os.path.join(warehouse, "t1"))


def test_load_files_csv_json_parquet(spark, warehouse, tmp_path):
    """reference A3 load_files: parquet/csv/json (CHANGELOG.md:24)."""
    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "a")], "k int, v string")
    eng.create_table("lf", source_df=src, primary_key=["k"])
    pq = str(tmp_path / "in_parquet")
    spark.createDataFrame([(2, "b")], "k int, v string").write.parquet(pq)
    eng.load_files("lf", [pq], fmt="parquet")
    csv = str(tmp_path / "in_csv")
    spark.createDataFrame([(3, "c")], "k int, v string").write.option(
        "header", True
    ).csv(csv)
    eng.load_files("lf", [csv], fmt="csv")
    js = str(tmp_path / "in_json")
    spark.createDataFrame([(4, "d")], "k int, v string").write.json(js)
    eng.load_files("lf", [js], fmt="json")
    rows = sorted(tuple(r) for r in eng.table("lf").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_optimize_compacts_files(spark, warehouse):
    """reference A4 optimize_table: many small commits → few files."""
    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(0, 0)], "k int, v int")
    eng.create_table("opt", source_df=src, primary_key=["k"])
    for i in range(1, 8):
        eng.insert("opt", spark.createDataFrame([(i, i)], "k int, v int"))
    mt = MoonTable(spark, f"{warehouse}/opt")
    files_before = len(mt._snapshot(None)[0])
    eng.optimize_table("opt", mode="vacuum")
    files_after = len(mt._snapshot(None)[0])
    assert files_after < files_before
    assert eng.table("opt").count() == 8
    rows = sorted(r["k"] for r in eng.table("opt").collect())
    assert rows == list(range(8))


@pytest.fixture(
    params=[MoonTable._DRIVER_MAX_ROWS, 150], ids=["driver", "spark"]
)
def merge_bound(request, monkeypatch):
    """Both merge paths of a one-key batch: the driver bound as shipped,
    and a bound below the rows of the candidate files (the Spark plan).
    Yields the list of :meth:`MoonTable._merge_on_driver` outcomes
    (True: the merge ran on the driver)."""
    monkeypatch.setattr(MoonTable, "_DRIVER_MAX_ROWS", request.param)
    taken = []
    orig = MoonTable._merge_on_driver

    def spy(self, *a, **kw):
        v = orig(self, *a, **kw)
        taken.append(v is not None)
        return v

    monkeypatch.setattr(MoonTable, "_merge_on_driver", spy)
    yield taken
    assert taken[:1] == [request.param != 150]


def test_merge_prunes_untouched_files(spark, warehouse, merge_bound):
    """The copy-on-write MERGE must not rewrite files whose pk range
    doesn't intersect the change batch (the 100 TB scale property)."""
    eng = _engine(spark, warehouse)
    lo = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("lo").alias("v"))
    eng.create_table("cow", source_df=lo, primary_key=["k"])
    hi = spark.range(100000, 101000).select(
        F.col("id").alias("k"), F.lit("hi").alias("v")
    )
    eng.insert("cow", hi)
    mt = MoonTable(spark, f"{warehouse}/cow")
    before = {d["name"] for d in mt._snapshot(None)[0]}
    # change batch touches only the high key range
    ch = spark.createDataFrame([(100000, "HI", "U")], "k long, v string, __op string")
    v = eng.apply_changes("cow", ch, source_version=2)
    assert mt._read_commit(v).op == "merge"
    after = {d["name"] for d in mt._snapshot(None)[0]}
    # files holding the low range must have survived untouched
    assert before & after, "low-range files were rewritten despite pruning"
    assert eng.table("cow").filter("v = 'HI'").count() == 1
    assert eng.table("cow").count() == 2000


def test_streaming_sync_available_now(spark, warehouse, tmp_path):
    """Structured Streaming foreachBatch sync: change files land in a
    directory, the sync loop drains them into the mirror exactly once."""
    from pg_mooncake_spark.streaming.cdc import sync_available

    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    eng.create_table("st", source_df=src, primary_key=["k"])

    stream_dir = str(tmp_path / "changes")
    spark.createDataFrame(
        [(2, "b2", "U"), (3, "c", "I"), (1, None, "D")],
        "k int, v string, __op string",
    ).write.parquet(stream_dir)

    stream = (
        spark.readStream.schema("k int, v string, __op string")
        .parquet(stream_dir)
    )
    sync_available(eng, "st", stream, checkpoint_dir=str(tmp_path / "ckpt"))
    rows = sorted((r["k"], r["v"]) for r in eng.table("st").collect())
    assert rows == [(2, "b2"), (3, "c")]


def test_optimize_sort_mode_improves_pruning(spark, warehouse, merge_bound):
    """optimize_table('sort:k') range-clusters files; a subsequent MERGE
    touching one key range must rewrite exactly one data file."""
    eng = _engine(spark, warehouse)
    # interleaved keys across many commits → every file spans ~all keys
    src = spark.range(0, 400).select(
        ((F.col("id") * 7919) % 400).cast("int").alias("k"),
        F.col("id").cast("int").alias("v"),
    )
    eng.create_table("srt", source_df=src, primary_key=["k"])
    for i in range(3):
        eng.insert(
            "srt",
            spark.range(400 + i * 100, 500 + i * 100).select(
                ((F.col("id") * 6151) % 10000).cast("int").alias("k"),
                F.col("id").cast("int").alias("v"),
            ),
        )
    eng.optimize_table("srt", mode="sort:k")
    mt = MoonTable(spark, f"{warehouse}/srt")
    files = mt._snapshot(None)[0]
    assert len(files) > 1, "need multiple files to show pruning"
    before = {d["name"] for d in files}
    # touch one narrow key range
    ch = spark.createDataFrame([(0, 999, "U")], "k int, v int, __op string")
    eng.apply_changes("srt", ch, source_version=9)
    after = {d["name"] for d in mt._snapshot(None)[0]}
    rewritten = before - after
    assert len(rewritten) == 1, f"expected 1 rewritten file, got {len(rewritten)}"
    # content intact
    assert eng.table("srt").filter("v = 999").count() == 1


def test_delete_where_rewrites_only_touched_files(spark, warehouse):
    """A single-key DELETE on a sort-clustered table must rewrite exactly
    the one file holding that key (VERDICT r1 #5: no full-table
    overwrite for predicate DML)."""
    eng = _engine(spark, warehouse)
    # 16 source files, so optimize keeps several (it targets files / 4)
    src = spark.range(0, 1000, numPartitions=16).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).cast("int").alias("v")
    )
    eng.create_table("dml", source_df=src, primary_key=["k"])
    eng.optimize_table("dml", mode="sort:k")
    mt = MoonTable(spark, f"{warehouse}/dml")
    files = mt._snapshot(None)[0]
    assert len(files) > 1, "need multiple files to show pruning"
    before = {d["name"] for d in files}

    mt.delete_where("k = 5")
    after = {d["name"] for d in mt._snapshot(None)[0]}
    assert len(before - after) == 1, f"rewrote {len(before - after)} files, expected 1"
    assert mt.read().count() == 999
    assert mt.read().filter("k = 5").count() == 0

    # update: same pruning contract, content correct
    before = after
    mt.update_where("k = 7", {"v": "v + 1000"})
    after = {d["name"] for d in mt._snapshot(None)[0]}
    assert len(before - after) == 1
    assert mt.read().filter("k = 7").select("v").first()["v"] == 14 + 1000
    assert mt.read().count() == 999

    # no-match predicate: zero rewrites, still commits a version
    v_before = mt.latest_version()
    before = after
    mt.delete_where("k = -42")
    assert mt.latest_version() == v_before + 1
    assert {d["name"] for d in mt._snapshot(None)[0]} == before


def test_create_table_from_source_uri_and_table_config(spark, warehouse, tmp_path):
    """Remote-source mirror form (reference create_table(dst, src,
    src_uri, table_config), src/functions.rs:24-43): the source is an
    external location, format sniffed from layout; table_config persists
    in the catalog and supplies the primary key."""
    from pg_mooncake_spark.sources.delta import write_delta

    eng = _engine(spark, warehouse)

    # parquet dir source
    pq_dir = str(tmp_path / "ext_pq")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.parquet(pq_dir)
    eng.create_table(
        "m_pq", source_uri=pq_dir, table_config={"primary_key": ["k"], "note": "x"}
    )
    assert sorted(r["k"] for r in eng.table("m_pq").collect()) == [1, 2]
    entry = eng.catalog.get("m_pq")
    assert entry["source"] == pq_dir
    assert entry["table_config"] == {"primary_key": ["k"], "note": "x"}
    # pk from table_config is live: merge works
    eng.apply_changes(
        "m_pq",
        spark.createDataFrame([(2, "B", "U")], "k int, v string, __op string"),
        source_version=1,
    )
    assert dict((r["k"], r["v"]) for r in eng.table("m_pq").collect())[2] == "B"

    # delta source, format sniffed from _delta_log
    dl = str(tmp_path / "ext_delta")
    write_delta(spark.createDataFrame([(7, "z")], "k int, v string"), dl)
    eng.create_table("m_dl", source_uri=dl)
    assert [(r["k"], r["v"]) for r in eng.table("m_dl").collect()] == [(7, "z")]


def test_identifier_normalization(spark, warehouse):
    """parse_table parity (reference src/functions.rs:146-163): unquoted
    folds to lowercase, quoted preserves case/spaces, injection rejected."""
    import pytest as _pytest

    from pg_mooncake_spark.engine import parse_table_name

    assert parse_table_name("Trades") == "trades"
    assert parse_table_name('public."My Table"') == "public.My Table"
    assert parse_table_name('"a""b"') == 'a"b'
    for bad in ("x;drop", "a.b.c", '"', "a.", "", "1tbl", 'sch."".t'):
        with _pytest.raises(ValueError):
            parse_table_name(bad)

    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "a")], "k int, v string")
    eng.create_table("Trades", source_df=src, primary_key=["k"])
    # same canonical table regardless of input case
    assert eng.table("TRADES").count() == 1
    eng.insert("trades", spark.createDataFrame([(2, "b")], "k int, v string"))
    assert eng.table("Trades").count() == 2
    with _pytest.raises(ValueError, match="already registered"):
        eng.create_table("TRADES", source_df=src)

    # quoted identifier with a space: full lifecycle works; SQL sees a
    # sanitized view alias
    eng.create_table('"My Table"', source_df=src, primary_key=["k"])
    assert eng.table('"My Table"').count() == 1
    assert eng.sql("SELECT COUNT(*) AS n FROM My_Table").first()["n"] == 1
    eng.drop_table('"My Table"')


def test_delete_pk_stat_fast_path_prunes_probe(spark, warehouse):
    """A pk-only predicate DELETE on an optimize(sort_by=pk)'d table must
    decide its probe set from commit-log stats (≤1 candidate file), not a
    full-snapshot probe scan (r2 VERDICT 'What's wrong' #3)."""
    eng = _engine(spark, warehouse)
    df = spark.range(0, 4000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    eng.create_table("pks", source_df=df, primary_key=["k"])
    mt = MoonTable(spark, f"{warehouse}/pks")
    mt.optimize(target_partitions=8, sort_by=["k"])  # disjoint pk ranges

    files, _ = mt._snapshot(None)
    assert len(files) == 8
    cand = mt._pk_stat_candidates(files, "k = 1234")
    assert cand is not None and len(cand) == 1
    cand = mt._pk_stat_candidates(files, "k BETWEEN 1000 AND 1499")
    assert cand is not None and 1 <= len(cand) <= 2
    cand = mt._pk_stat_candidates(files, "k IN (5, 3999)")
    assert cand is not None and len(cand) == 2
    # non-pk / complex predicates fall back to the sound probe
    assert mt._pk_stat_candidates(files, "v = 10") is None
    assert mt._pk_stat_candidates(files, "k = 1 OR k = 3999") is None

    # end-to-end: single-key delete rewrites exactly one file, result correct
    before = {d["name"] for d in files}
    mt.delete_where("k = 1234")
    after, _ = mt._snapshot(None)
    untouched = before & {d["name"] for d in after}
    assert len(untouched) == 7, "delete rewrote more than the 1 candidate file"
    assert mt.read().count() == 3999
    assert mt.read().filter("k = 1234").count() == 0

    # update through the same fast path
    mt.update_where("k = 7", {"v": "v + 1000000"})
    assert mt.read().filter("k = 7").select("v").first()[0] == 14 + 1000000


def test_sql_view_alias_collision_raises(spark, warehouse):
    """Distinct tables whose names sanitize to the same view alias must
    raise instead of silently shadowing one another (r2 ADVICE): 'a.b'
    and 'a_b' both sanitize to view alias 'a_b'."""
    import pytest as _pytest

    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "x")], "k int, v string")
    eng.create_table("a.b", source_df=src, primary_key=["k"])
    eng.create_table("a_b", source_df=src, primary_key=["k"])
    with _pytest.raises(ValueError, match="ambiguous"):
        eng.sql("SELECT COUNT(*) AS n FROM a_b")


def test_pk_stat_pruning_timestamp_literals(spark, warehouse):
    """Timestamp pk predicates: SQL literals use a space, stats use
    isoformat's 'T' — pruning must normalize (round-3 review finding:
    'T' > ' ' silently mis-pruned same-day predicates)."""
    eng = _engine(spark, warehouse)
    df = spark.sql(
        "SELECT timestamp'2020-07-01 00:00:00' + make_interval(0,0,0,0,id,0,0) AS ts,"
        "       id AS v FROM range(100)"
    )
    eng.create_table("tspk", source_df=df, primary_key=["ts"])
    mt = MoonTable(spark, f"{warehouse}/tspk")
    mt.optimize(target_partitions=4, sort_by=["ts"])
    files, _ = mt._snapshot(None)
    cand = mt._pk_stat_candidates(files, "ts <= '2020-07-01 10:00:00'")
    assert cand is not None and 1 <= len(cand) < 4
    # date-only literal vs timestamp stats: unprovable -> sound fallback
    assert mt._pk_stat_candidates(files, "ts <= '2020-07-02'") is None
    # end-to-end: the delete must actually remove the matching rows
    mt.delete_where("ts <= '2020-07-01 10:00:00'")
    assert mt.read().count() == 89


def test_export_table_iceberg_and_delta(spark, warehouse, tmp_path):
    """export_table publishes a pinned mirror snapshot as an open-format
    table (the reference's per-mirror Iceberg warehouse surface): both
    exports read back with the same rows, and a version pin exports the
    OLD snapshot even after later writes."""
    from pg_mooncake_spark.sources.delta import read_delta
    from pg_mooncake_spark.sources.iceberg import read_iceberg

    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(i, i * 2) for i in range(8)], "k int, v int")
    eng.create_table("ex", source_df=src, primary_key=["k"])
    v1 = eng.create_snapshot("ex")
    eng.delete_where("ex", "k >= 4")

    ice = str(tmp_path / "ice_export")
    dl = str(tmp_path / "delta_export")
    eng.export_table("ex", ice, fmt="iceberg", version=v1)
    eng.export_table("ex", dl, fmt="delta")  # current = post-delete

    assert sorted(r["k"] for r in read_iceberg(spark, ice).collect()) == list(range(8))
    assert sorted(r["k"] for r in read_delta(spark, dl).collect()) == [0, 1, 2, 3]


def test_not_null_propagates_to_mirror_schema(spark, warehouse):
    """NOT NULL constraints ride the mirror schema (reference copies
    attnotnull into the mirror DDL, src/functions.rs:210): create_table
    stores nullable=False verbatim and DML leaves it untouched.  The
    parquet SCAN surfaces nullable=True — Spark file sources never trust
    declared non-nullability at read time — so the catalog schema, not
    the scan schema, is the constraint's source of truth, same as the
    reference keeping it in pg_attribute rather than the data files."""
    eng = _engine(spark, warehouse)
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    df = spark.createDataFrame([(1, "x")], schema)
    mt = eng.create_table("nn", source_df=df, primary_key=["a"])
    assert [f.nullable for f in mt.schema().fields] == [False, True]

    upd = spark.createDataFrame([(2, "y")], schema)
    eng.apply_changes("nn", changes_df(upd, op="I"), source_version=1)
    assert [f.nullable for f in mt.schema().fields] == [False, True]
    assert mt.read().count() == 2


def test_drop_is_two_phase_and_crash_recoverable(spark, warehouse):
    """DROP commits the catalog change before touching storage (reference
    tears the mirror down in a pre-commit callback so DROP is atomic with
    the transaction, src/functions.rs:45-82).  A crash between the two
    phases leaves the table deregistered with orphaned storage, and the
    next engine start reaps it."""
    import os

    from pg_mooncake_spark.engine import MooncakeEngine

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    eng.create_table("t1", source_df=df)
    eng.create_table("t2", source_df=df)

    # normal drop: gone from catalog AND disk, no tombstone left
    p1 = eng.catalog.get("t1")["path"]
    eng.drop_table("t1")
    assert "t1" not in eng.catalog.list_tables()
    assert not os.path.isdir(p1)
    assert eng.catalog.pending_drops() == {}

    # simulated crash after phase 1: deregistered, storage orphaned
    p2 = eng.catalog.get("t2")["path"]
    eng.catalog.begin_drop("t2")
    assert "t2" not in eng.catalog.list_tables()
    assert os.path.isdir(p2), "phase 1 must not touch storage"
    assert eng.catalog.pending_drops() == {"t2": p2}

    # recovery: a fresh engine session reaps the orphan
    eng2 = MooncakeEngine(spark, warehouse)
    assert not os.path.isdir(p2)
    assert eng2.catalog.pending_drops() == {}


def test_attach_export_keeps_iceberg_mirror_current(spark, warehouse, tmp_path):
    """attach_export + apply_changes = the reference's core loop: the
    Iceberg export is maintained incrementally (equality deletes by PK,
    then appends) so after any mix of I/U/D it reads identically to the
    mirror — without ever re-exporting the table."""
    from pg_mooncake_spark.sources.iceberg import read_iceberg

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 1.0) for i in range(20)], "k long, v string, x double"
    )
    eng.create_table("m", source_df=df, primary_key=["k"])
    exp = str(tmp_path / "exp_ice")
    eng.attach_export("m", exp)
    assert read_iceberg(spark, exp).count() == 20

    batch = (
        spark.createDataFrame(
            [(3, "upd3", 300.0), (20, "new20", 20.0), (7, None, 0.0)],
            "k long, v string, x double",
        )
        .withColumn("__op", F.expr("CASE k WHEN 3 THEN 'U' WHEN 20 THEN 'I' ELSE 'D' END"))
    )
    eng.apply_changes("m", batch, source_version=1)

    mirror = {(r["k"], r["v"], r["x"]) for r in eng.table("m").collect()}
    export = {(r["k"], r["v"], r["x"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export
    assert (20, "new20", 20.0) in export and (3, "upd3", 300.0) in export
    assert not any(k == 7 for k, _, _ in export)

    # a second batch re-inserting a deleted key must survive the earlier
    # equality delete (sequence scoping)
    b2 = spark.createDataFrame([(7, "reborn", 7.0)], "k long, v string, x double")
    eng.apply_changes("m", changes_df(b2, op="I"), source_version=2)
    export = {(r["k"], r["v"]) for r in read_iceberg(spark, exp).collect()}
    assert (7, "reborn") in export
    assert len(export) == read_iceberg(spark, exp).count() == 21

    # direct DML (not just apply_changes) must also maintain the export
    eng.insert("m", spark.createDataFrame([(30, "ins", 30.0)],
                                          "k long, v string, x double"))
    eng.update_where("m", "k = 5", {"x": "x * 10"})
    eng.delete_where("m", "k = 4")
    mirror = {(r["k"], r["v"], r["x"]) for r in eng.table("m").collect()}
    export = {(r["k"], r["v"], r["x"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export
    assert (30, "ins", 30.0) in export and (5, "v5", 50.0) in export
    assert not any(k == 4 for k, _, _ in export)

    # optimize_table folds the export's accumulated delete files +
    # appends into clean files; vacuum mode also expires old snapshots
    import glob as _glob

    eng.optimize_table("m", mode="vacuum")
    export2 = {(r["k"], r["v"], r["x"]) for r in read_iceberg(spark, exp).collect()}
    assert export2 == mirror
    assert not _glob.glob(exp + "/data/e*/part-*.parquet"), (
        "equality delete files should be reclaimed after compaction+expiry"
    )

    # export without a primary key refuses
    eng.create_table("nopk", source_df=df)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="primary key"):
        eng.attach_export("nopk", str(tmp_path / "exp2"))


def test_apply_changes_schema_drift_fails_loudly(spark, warehouse):
    """SURVEY §7.3's promise: a CDC batch whose schema drifted from the
    mirror (extra OR missing column) must raise a clear error, never
    silently drop/null the difference — ALTER propagation is explicitly
    out of scope (§1.3), so drift means the pipeline is misconfigured."""
    import pytest as _pytest

    from pg_mooncake_spark.storage import MoonTableError

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    eng.create_table("drift", source_df=df, primary_key=["k"])

    extra = spark.createDataFrame(
        [(3, "c", 9.0)], "k long, v string, bonus double"
    ).withColumn("__op", F.lit("I"))
    with _pytest.raises(MoonTableError, match="drifted.*extra.*bonus"):
        eng.apply_changes("drift", extra, source_version=1)

    narrower = spark.createDataFrame([(3,)], "k long").withColumn(
        "__op", F.lit("I")
    )
    with _pytest.raises(MoonTableError, match="drifted.*missing.*'v'"):
        eng.apply_changes("drift", narrower, source_version=1)

    # the failed batches left no trace: mirror state and watermarks intact
    assert {(r["k"], r["v"]) for r in eng.table("drift").collect()} == {
        (1, "a"), (2, "b"),
    }


def test_partitioned_attach_export_stays_partitioned(spark, warehouse, tmp_path):
    """attach_export(partition_by=...) creates a partitioned Iceberg
    export and the incremental CDC sync keeps it partitioned: appended
    data files land under their partition values (manifest tuples
    included), so downstream partition-pruned reads stay cheap."""
    from pg_mooncake_spark.sources.iceberg import _latest_metadata, read_iceberg

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", f"v{i}") for i in range(20)],
        "k long, grp string, v string",
    )
    eng.create_table("pm", source_df=df, primary_key=["k"])
    exp = str(tmp_path / "exp_part")
    eng.attach_export("pm", exp, partition_by=["grp"])
    spec = _latest_metadata(exp)["partition-specs"][0]
    assert [f["name"] for f in spec["fields"]] == ["grp"]

    batch = spark.createDataFrame(
        [(1, "B", "upd1"), (20, "A", "new20"), (2, "A", None)],
        "k long, grp string, v string",
    ).withColumn(
        "__op", F.expr("CASE k WHEN 1 THEN 'U' WHEN 20 THEN 'I' ELSE 'D' END")
    )
    eng.apply_changes("pm", batch, source_version=1)

    mirror = {(r["k"], r["grp"], r["v"]) for r in eng.table("pm").collect()}
    export = {(r["k"], r["grp"], r["v"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export
    # synced rows are partition-addressable: the A-only read sees the new
    # row, not the B-side update, and only scans A-partition data files
    a_side = read_iceberg(spark, exp, partition_filter={"grp": "A"})
    a_rows = {(r["k"], r["v"]) for r in a_side.collect()}
    assert (20, "new20") in a_rows and not any(k == 1 for k, _ in a_rows)
    data_files = [f for f in a_side.inputFiles() if "/data/s" in f]
    assert data_files and all("__p_grp=A" in f for f in data_files)

    # optimize_table folds the export's delete files + appends into clean
    # files WITHOUT losing the partition spec or pruning
    eng.optimize_table("pm", mode="vacuum")
    spec = _latest_metadata(exp)["partition-specs"][0]
    assert [f["name"] for f in spec["fields"]] == ["grp"]
    export2 = {(r["k"], r["grp"], r["v"]) for r in read_iceberg(spark, exp).collect()}
    assert export2 == mirror
    b_side = read_iceberg(spark, exp, partition_filter={"grp": "B"})
    assert all("__p_grp=B" in f for f in b_side.inputFiles())
    assert {(r["k"], r["v"]) for r in b_side.collect()} == {
        (k, v) for k, g, v in mirror if g == "B"
    }


def test_export_sync_atomic_snapshot_and_pk_rewrite(spark, warehouse, tmp_path):
    """Two ADVICE-r6 export-sync guarantees.  (1) Atomicity: each CDC
    batch lands on the export as ONE row-delta snapshot (equality
    deletes + appends in the same commit) — an external reader between
    two commits would otherwise see updated rows missing entirely, and
    a crash between them would lose the batch's upserts.  (2) PK
    rewrite: UPDATE assigning a primary-key column syncs as
    D(pre-image keys) + I(post-image rows); a post-state semi-join on
    pre-keys would silently diverge the export."""
    from pg_mooncake_spark.sources.iceberg import _latest_metadata, read_iceberg

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    )
    eng.create_table("m", source_df=df, primary_key=["k"])
    exp = str(tmp_path / "exp_atomic")
    eng.attach_export("m", exp)
    n0 = len(_latest_metadata(exp)["snapshots"])

    batch = spark.createDataFrame(
        [(1, "upd1"), (10, "new10"), (2, None)], "k long, v string"
    ).withColumn(
        "__op", F.expr("CASE k WHEN 1 THEN 'U' WHEN 10 THEN 'I' ELSE 'D' END")
    )
    eng.apply_changes("m", batch, source_version=1)

    meta = _latest_metadata(exp)
    snaps = meta["snapshots"]
    assert len(snaps) == n0 + 1, "one CDC batch must be exactly one snapshot"
    s = snaps[-1]["summary"]
    assert int(s["added-delete-files"]) >= 1 and int(s["added-data-files"]) >= 1, (
        "the row-delta snapshot must carry BOTH the equality deletes and "
        "the appended rows"
    )
    mirror = {(r["k"], r["v"]) for r in eng.table("m").collect()}
    export = {(r["k"], r["v"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export

    # UPDATE that rewrites the primary key itself
    eng.update_where("m", "k = 3", {"k": "k + 100", "v": "'moved'"})
    mirror = {(r["k"], r["v"]) for r in eng.table("m").collect()}
    export = {(r["k"], r["v"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export
    assert (103, "moved") in export
    assert not any(k == 3 for k, _ in export), (
        "the pre-update key must be equality-deleted from the export"
    )

def test_read_where_prunes_files_by_pk_stats(spark, warehouse):
    """table(name, where=...) / MoonTable.read(where=...): a simple
    pk predicate prunes the snapshot's FILE LIST through the commit-log
    min/max stats (a key probe on a sort-clustered table plans ≤1
    file); complex predicates fall back to filter-only — same rows,
    no pruning, never unsound."""
    eng = _engine(spark, warehouse)
    # 16 source files, so optimize keeps several (it targets files / 4)
    src = spark.range(0, 1000, numPartitions=16).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 3).cast("int").alias("v"),
    )
    eng.create_table("rprune", source_df=src, primary_key=["k"])
    eng.optimize_table("rprune", mode="sort:k")
    mt = MoonTable(spark, f"{warehouse}/rprune")
    n_files = len(mt._snapshot(None)[0])
    assert n_files > 1

    probe = eng.table("rprune", where="k = 123")
    rows = probe.collect()
    assert len(rows) == 1 and rows[0]["v"] == 369
    assert len(probe.inputFiles()) == 1

    rng = eng.table("rprune", where="k BETWEEN 10 AND 20")
    assert rng.count() == 11
    assert len(rng.inputFiles()) < n_files

    # non-pk / complex predicates: exact rows, no pruning claimed
    full = eng.table("rprune", where="v = 369 OR v = 372")
    assert {r["k"] for r in full.collect()} == {123, 124}
    assert len(full.inputFiles()) == n_files

def test_mirror_timestamp_time_travel(spark, warehouse):
    """engine.table(as_of_timestamp=...) resolves the mirror commit log
    by commit timestamps — the mirror's analog of timestampAsOf —
    refusing pre-history timestamps and explicit-version conflicts."""
    import pytest as _pytest

    from pg_mooncake_spark.storage import MoonTableError

    eng = _engine(spark, warehouse)
    src = spark.range(10).selectExpr("CAST(id AS INT) AS k")
    eng.create_table("ttm", source_df=src, primary_key=["k"])
    eng.insert(
        "ttm", spark.range(10, 30).selectExpr("CAST(id AS INT) AS k")
    )
    mt = MoonTable(spark, f"{warehouse}/ttm")
    versions = mt._versions()
    t_first = mt._read_commit(versions[0]).ts
    t_backfill = mt._read_commit(versions[-2]).ts
    t_last = mt._read_commit(versions[-1]).ts

    assert eng.table(
        "ttm", as_of_timestamp=int(t_backfill * 1000) + 1
    ).count() == 10
    assert eng.table(
        "ttm", as_of_timestamp=int(t_last * 1000) + 1
    ).count() == 30
    with _pytest.raises(MoonTableError, match="before"):
        eng.table("ttm", as_of_timestamp=int((t_first - 10) * 1000))
    with _pytest.raises(ValueError, match="mutually exclusive"):
        eng.table("ttm", version=1, as_of_timestamp=int(t_last * 1000))

def test_apply_changes_schema_evolve(spark, warehouse):
    """on_schema_drift='evolve': an upstream ADD COLUMN widens the
    mirror (new nullable column; pre-evolution rows read NULL; time
    travel below the evolution sees the old shape), a missing non-key
    column nulls in the new images, a missing KEY column still refuses,
    and an attached Iceberg export evolves in step."""
    import pytest as _pytest

    from pg_mooncake_spark.sources.iceberg import read_iceberg
    from pg_mooncake_spark.storage import MoonTableError

    eng = _engine(spark, warehouse)
    src = spark.range(5).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id * 2 AS INT) AS v"
    )
    eng.create_table("evo", source_df=src, primary_key=["k"])
    export = f"{warehouse}/evo_export"
    eng.attach_export("evo", export)

    drifted = spark.createDataFrame(
        [(10, 20, "new", "I"), (0, 99, "upd", "U")],
        "k int, v int, note string, __op string",
    )
    # default still refuses (fail-loudly contract intact)
    with _pytest.raises(MoonTableError, match="drifted"):
        eng.apply_changes("evo", drifted, source_version=5)

    v_before = eng.catalog.get("evo")["flush_version"]
    eng.apply_changes(
        "evo", drifted, source_version=5, on_schema_drift="evolve"
    )
    out = {r["k"]: (r["v"], r["note"]) for r in eng.table("evo").collect()}
    assert out[10] == (20, "new") and out[0] == (99, "upd")
    assert out[1] == (2, None)  # pre-evolution row: NULL in new column
    assert len(out) == 6

    # time travel below the evolution: old two-column shape
    old = eng.table("evo", version=v_before)
    assert [f.name for f in old.schema.fields] == ["k", "v"]

    # the attached export evolved in step
    exp = {r["k"]: (r["v"], r["note"])
           for r in read_iceberg(spark, export).collect()}
    assert exp == out

    # next batch missing the evolved column (upstream DROP): nulls in
    # the new image only
    drop_batch = spark.createDataFrame(
        [(2, 55, "U")], "k int, v int, __op string"
    )
    eng.apply_changes(
        "evo", drop_batch, source_version=6, on_schema_drift="evolve"
    )
    out = {r["k"]: (r["v"], r["note"]) for r in eng.table("evo").collect()}
    assert out[2] == (55, None) and out[10] == (20, "new")
    exp = {r["k"]: (r["v"], r["note"])
           for r in read_iceberg(spark, export).collect()}
    assert exp == out

    # a batch without the primary key can never evolve past it
    bad = spark.createDataFrame([(1, "x", "U")], "v int, note string, __op string")
    with _pytest.raises(MoonTableError, match="primary-key"):
        eng.apply_changes(
            "evo", bad, source_version=7, on_schema_drift="evolve"
        )

def test_optimize_zorder_mode_prunes_on_both_columns(spark, warehouse):
    """optimize_table('zorder:a,b') Morton-clusters the mirror rewrite:
    pk-stat pruned reads (where=) skip files for predicates on EITHER
    z-ordered pk column."""
    eng = _engine(spark, warehouse)
    # 16 source files, so optimize keeps several (it targets files / 4)
    src = spark.createDataFrame(
        [(i % 32, (i * 7919) % 32, float(i)) for i in range(1024)],
        "a int, b int, x double",
    ).repartition(16)
    eng.create_table("zt", source_df=src, primary_key=["a", "b"])
    eng.optimize_table("zt", mode="zorder:a,b")
    mt = MoonTable(spark, f"{warehouse}/zt")
    n_files = len(mt._snapshot(None)[0])
    assert n_files > 2

    fa = eng.table("zt", where="a BETWEEN 0 AND 7")
    fb = eng.table("zt", where="b BETWEEN 0 AND 7")
    assert fa.count() == 1024 // 4 and fb.count() == 1024 // 4
    assert len(fa.inputFiles()) < n_files
    assert len(fb.inputFiles()) < n_files

def test_bucket_partitioned_attach_export_syncs(spark, warehouse, tmp_path):
    """attach_export with a bucket() transform spec: the engine's DSL
    flows through to the Iceberg writer, the CDC sync stages under the
    murmur3 buckets, and every synced row lands in its spec-mandated
    bucket file."""
    import struct

    from pg_mooncake_spark.sources.iceberg import (
        _latest_metadata,
        _murmur3_32,
        read_iceberg,
    )

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    )
    eng.create_table("bm", source_df=df, primary_key=["k"])
    exp = str(tmp_path / "exp_bucket")
    eng.attach_export("bm", exp, partition_by=["bucket(4, k)"])
    spec = _latest_metadata(exp)["partition-specs"][0]
    assert [(f["name"], f["transform"]) for f in spec["fields"]] == [
        ("k_bucket", "bucket[4]")
    ]

    batch = spark.createDataFrame(
        [(3, "upd3", "U"), (100, "new100", "I"), (4, None, "D")],
        "k long, v string, __op string",
    )
    eng.apply_changes("bm", batch, source_version=1)
    mirror = {(r["k"], r["v"]) for r in eng.table("bm").collect()}
    export = {(r["k"], r["v"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export and (100, "new100") in export

    def bucket(k: int) -> int:
        return (_murmur3_32(struct.pack("<q", k)) & 0x7FFFFFFF) % 4

    b = bucket(100)
    probe = read_iceberg(spark, exp, partition_filter={"k_bucket": b})
    rows = {r["k"] for r in probe.collect()}
    assert 100 in rows and all(bucket(k) == b for k in rows)


def test_rename_column_propagates_to_exports(spark, warehouse, tmp_path):
    """engine.rename_column: metadata-only on the mirror AND on the
    attached Iceberg export (rename-by-field-id); CDC with the new name
    keeps flowing afterwards; an export with pending equality deletes
    is compacted automatically before the rename."""
    from pg_mooncake_spark.sources.iceberg import read_iceberg

    eng = _engine(spark, warehouse)
    df = spark.createDataFrame(
        [(i, i * 1.0) for i in range(10)], "k long, amount double"
    )
    eng.create_table("r", source_df=df, primary_key=["k"])
    exp = str(tmp_path / "exp_ren")
    eng.attach_export("r", exp)

    # leave pending equality deletes in the export so rename must
    # compact it first (the typed-retry path)
    eng.apply_changes(
        "r",
        changes_df(
            spark.createDataFrame([(3, 33.0)], "k long, amount double"), op="U"
        ),
        source_version=1,
    )

    eng.rename_column("r", "amount", "total")
    assert [f.name for f in eng.table("r").schema.fields] == ["k", "total"]
    mirror = {(r["k"], r["total"]) for r in eng.table("r").collect()}
    export = {(r["k"], r["total"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export and (3, 33.0) in export and len(export) == 10

    # CDC continues under the new name, export stays in lockstep
    batch = changes_df(
        spark.createDataFrame([(5, 555.0)], "k long, total double"), op="U"
    )
    eng.apply_changes("r", batch, source_version=2)
    mirror = {(r["k"], r["total"]) for r in eng.table("r").collect()}
    export = {(r["k"], r["total"]) for r in read_iceberg(spark, exp).collect()}
    assert mirror == export and (5, 555.0) in export


class TestDeltaMirrorExport:
    def test_sync_and_dml_paths(self, spark, warehouse):
        from pg_mooncake_spark.engine import MooncakeEngine
        from pg_mooncake_spark.sources.delta import read_delta

        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(1, 21)],
            "k int, v string, x double",
        )
        eng.create_table("m", source_df=src, primary_key=["k"])
        exp = warehouse + "/export_delta"
        eng.attach_export("m", exp, fmt="delta")

        ch = spark.createDataFrame(
            [(2, "V2", 20.0, "U"), (3, None, None, "D"), (99, "n", 9.0, "I")],
            "k int, v string, x double, __op string",
        )
        eng.apply_changes("m", ch, source_version=1)
        eng.update_where("m", "k = 5", {"x": "x * 100"})
        eng.delete_where("m", "k = 6")

        want = sorted(tuple(r) for r in eng.table("m").collect())
        got = sorted(tuple(r) for r in read_delta(spark, exp).collect())
        assert got == want

    def test_schema_evolution_reaches_delta_export(self, spark, warehouse):
        from pg_mooncake_spark.engine import MooncakeEngine
        from pg_mooncake_spark.sources.delta import read_delta

        eng = MooncakeEngine(spark, warehouse)
        src = spark.createDataFrame([(1, "a")], "k int, v string")
        eng.create_table("m", source_df=src, primary_key=["k"])
        exp = warehouse + "/export_delta"
        eng.attach_export("m", exp, fmt="delta")
        ch = spark.createDataFrame(
            [(2, "b", 7, "I")], "k int, v string, extra int, __op string"
        )
        eng.apply_changes("m", ch, source_version=1, on_schema_drift="evolve")
        got = {r["k"]: (r["v"], r["extra"]) for r in read_delta(spark, exp).collect()}
        assert got == {1: ("a", None), 2: ("b", 7)}


class TestDropRecreateSamePath:
    """VERDICT r8 task 1 / ADVICE r8 high: drop_table → create_table of the
    same name reuses the same deterministic warehouse path and the same
    commit-log filenames; the process-wide _COMMIT_CACHE must not serve the
    old incarnation's commits (the reference's own regress flow drops and
    recreates the same names — tests/pg_regress/sql/sanity.sql:7 →
    partitioned_table.sql:1)."""

    def test_recreate_serves_new_schema_and_data(self, spark, warehouse):
        eng = _engine(spark, warehouse)
        src1 = spark.createDataFrame([(1, "old")], "a int, b string")
        mt1 = eng.create_table("r", source_df=src1, primary_key=["a"])
        # warm the commit cache via reads
        assert [r["b"] for r in eng.table("r").collect()] == ["old"]
        old_path = mt1.path
        eng.drop_table("r")

        src2 = spark.createDataFrame(
            [(10, 1.5, "new")], "x int, y double, z string"
        )
        mt2 = eng.create_table("r", source_df=src2, primary_key=["x"])
        assert mt2.path == old_path  # same deterministic slug → same path
        # schema, pk, and data must all come from the NEW incarnation
        assert mt2.primary_key() == ["x"]
        assert set(mt2.schema().fieldNames()) == {"x", "y", "z"}
        rows = [tuple(r) for r in eng.table("r").collect()]
        assert rows == [(10, 1.5, "new")]

    def test_recreate_after_dml_history(self, spark, warehouse):
        eng = _engine(spark, warehouse)
        src = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "a int, b string")
        eng.create_table("r", source_df=src, primary_key=["a"])
        eng.update_where("r", "a > 2", {"b": "'upd'"})
        eng.delete_where("r", "a = 0")
        assert eng.table("r").count() == 4  # warm cache across versions
        eng.drop_table("r")

        src2 = spark.createDataFrame([(100, "fresh")], "a int, b string")
        eng.create_table("r", source_df=src2, primary_key=["a"])
        got = [tuple(r) for r in eng.table("r").collect()]
        assert got == [(100, "fresh")]
        # time travel on the new incarnation sees only its own history
        mt = eng._moontable("r")
        assert len(mt.history()) == 2  # create + backfill append


def test_load_files_syncs_attached_exports(spark, warehouse, tmp_path):
    """A bulk load into a mirror with attached exports must land in the
    exports too (previously load_files appended to the mirror only,
    silently diverging every export until a repair ran)."""
    from pg_mooncake_spark.sources.iceberg import read_iceberg

    eng = _engine(spark, warehouse)
    src = spark.createDataFrame([(1, "a")], "k int, v string")
    eng.create_table("lfx", source_df=src, primary_key=["k"])
    exp = str(tmp_path / "exp")
    eng.attach_export("lfx", exp)
    pq = str(tmp_path / "in_pq")
    spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string").write.parquet(pq)
    v = eng.load_files("lfx", [pq], fmt="parquet")
    mirror = sorted(tuple(r) for r in eng.table("lfx").collect())
    export = sorted(tuple(r) for r in read_iceberg(spark, exp).collect())
    assert mirror == export == [(1, "a"), (2, "b"), (3, "c")]
    assert eng.catalog.get("lfx")["export_version"] == v
