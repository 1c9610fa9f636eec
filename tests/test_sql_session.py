"""Session-level SQL surfaces: $n parameter binding, PREPARE / EXECUTE /
DEALLOCATE, EXPLAIN, SHOW TABLES / DESCRIBE, and the information_schema
catalog relations (round 12).

The reference's users drive these through every Postgres client library
(extended-protocol bind, psql \\d, ORM introspection); here they are
session-scoped spellings over the same engine catalog and dispatch."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pg_mooncake_spark.engine import (
    MooncakeEngine,
    _bind_params,
    _mask_quoted,
    _render_literal,
)

from tests.conftest import SF_DIR


@pytest.fixture()
def eng(spark, warehouse):
    return MooncakeEngine(spark, warehouse)


@pytest.fixture()
def cust(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .select("c_custkey", "c_name", "c_acctbal")
        .filter("c_custkey <= 200")
    )


# ------------------------------------------------------------- binding


def test_render_literal_types():
    assert _render_literal(None) == "NULL"
    assert _render_literal(True) == "TRUE"
    assert _render_literal(42) == "42"
    assert _render_literal(1.5) == "1.5"
    assert _render_literal("O'x\\y") == "'O''x\\\\y'"
    assert _render_literal(datetime.date(2020, 1, 2)) == "DATE '2020-01-02'"
    assert _render_literal(b"\x01\xff") == "X'01ff'"
    assert _render_literal([1, 2]) == "array(1, 2)"
    assert "DECIMAL" in _render_literal(Decimal("1.25"))
    with pytest.raises(TypeError):
        _render_literal(object())


def test_mask_quoted_hides_literals():
    s = "SELECT '$1' AS a, \"$2\" FROM t WHERE x = $1"
    m = _mask_quoted(s)
    assert "$1" in m and m.count("$") == 1
    assert len(m) == len(s)


def test_bind_params_positions_and_repeats():
    q = _bind_params("SELECT $2, $1, $2", ["a", 7])
    assert q == "SELECT (7), ('a'), (7)"
    with pytest.raises(ValueError, match="supplies 1 parameters"):
        _bind_params("SELECT $3", ["a"])


def test_sql_params_end_to_end(eng, cust):
    eng.create_table("c_bind", source_df=cust, primary_key=["c_custkey"])
    n = eng.sql(
        "SELECT count(*) AS n FROM c_bind WHERE c_custkey > $1",
        params=[100],
    ).collect()[0].n
    want = cust.filter("c_custkey > 100").count()
    assert n == want
    # params reach DML too (bound before dispatch)
    eng.sql("DELETE FROM c_bind WHERE c_custkey > $1", params=[100])
    assert eng.table("c_bind").count() == cust.count() - want


# ------------------------------------------- PREPARE / EXECUTE / DEALLOCATE


def test_prepare_execute_roundtrip(eng, cust):
    eng.create_table("c_ps", source_df=cust, primary_key=["c_custkey"])
    eng.sql(
        "PREPARE pick (int) AS "
        "SELECT c_custkey FROM c_ps WHERE c_custkey = $1"
    )
    assert eng.sql("EXECUTE pick(7)").collect()[0].c_custkey == 7
    # argument is an expression, parenthesized at bind time
    assert eng.sql("EXECUTE pick(3 + 4)").collect()[0].c_custkey == 7
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("PREPARE pick AS SELECT 1")
    with pytest.raises(ValueError, match='requires 1'):
        eng.sql("EXECUTE pick(1, 2)")
    eng.sql("DEALLOCATE pick")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("EXECUTE pick(1)")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("DEALLOCATE pick")


def test_execute_negative_arg_adjacent_minus(eng):
    # "2-$1" bound to -5 must not splice into "2--5" (a line comment):
    # every bound argument is parenthesized before substitution
    eng.sql("PREPARE pneg (int) AS SELECT 2-$1 AS v, 2*$1 AS w")
    row = eng.sql("EXECUTE pneg(-5)").collect()[0]
    assert (row.v, row.w) == (7, -10)
    # same hazard through the $n params path
    row2 = eng.sql("SELECT 2-$1 AS v", params=[-5]).collect()[0]
    assert row2.v == 7
    eng.sql("DEALLOCATE pneg")


def test_prepare_dml_and_deallocate_all(eng, cust):
    eng.create_table("c_pd", source_df=cust, primary_key=["c_custkey"])
    eng.sql(
        "PREPARE zap (int) AS DELETE FROM c_pd WHERE c_custkey % $1 = 0"
    )
    eng.sql("EXECUTE zap(2)")
    assert eng.table("c_pd").filter("c_custkey % 2 = 0").count() == 0
    eng.sql("DEALLOCATE ALL")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("EXECUTE zap(3)")
    # DEALLOCATE ALL is idempotent
    eng.sql("DEALLOCATE ALL")


def test_execute_stages_inside_transaction(eng, cust):
    eng.create_table("c_pt", source_df=cust, primary_key=["c_custkey"])
    eng.sql("PREPARE ins AS INSERT INTO c_pt VALUES ($1, $2, $3)")
    eng.sql("BEGIN")
    eng.sql("EXECUTE ins(-1, 'x', 1.0)")
    eng.sql("ROLLBACK")
    assert eng.table("c_pt").filter("c_custkey = -1").count() == 0
    eng.sql("BEGIN")
    eng.sql("EXECUTE ins(-1, 'x', 1.0)")
    eng.sql("COMMIT")
    assert eng.table("c_pt").filter("c_custkey = -1").count() == 1


# ------------------------------------------------------------- EXPLAIN


def test_explain_select_resolves_mirror(eng, cust):
    eng.create_table("c_ex", source_df=cust, primary_key=["c_custkey"])
    rows = eng.sql(
        "EXPLAIN SELECT c_custkey FROM c_ex WHERE c_custkey = 5"
    ).collect()
    text = "\n".join(r.query_plan for r in rows)
    assert "Physical Plan" in text
    assert rows[0].__fields__ == ["query_plan"]


def test_explain_analyze_executes(eng, cust):
    eng.create_table("c_ea", source_df=cust, primary_key=["c_custkey"])
    rows = eng.sql("EXPLAIN ANALYZE SELECT count(*) AS n FROM c_ea").collect()
    assert rows[-1].query_plan.startswith("Execution: 1 rows")


def test_explain_write_does_not_execute(eng, cust):
    eng.create_table("c_ew", source_df=cust, primary_key=["c_custkey"])
    v0 = eng.catalog.get("c_ew")["commit_version"]
    rows = eng.sql("EXPLAIN DELETE FROM c_ew WHERE c_custkey > 0").collect()
    assert "DML route: DELETE" in rows[0].query_plan
    assert eng.catalog.get("c_ew")["commit_version"] == v0
    assert eng.table("c_ew").count() == cust.count()
    with pytest.raises(ValueError, match="would execute the write"):
        eng.sql("EXPLAIN ANALYZE DELETE FROM c_ew WHERE c_custkey > 0")


def test_explain_never_executes_a_statement(eng, spark, cust):
    """EXPLAIN plans a read, describes an engine route and lets Spark's
    own EXPLAIN plan a Spark command — none of them runs."""
    eng.create_table("c_en", source_df=cust, primary_key=["c_custkey"])
    spark.sql("CREATE OR REPLACE TEMP VIEW tv_en AS SELECT 1 AS x")
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    try:
        rows = eng.sql("EXPLAIN DROP VIEW tv_en").collect()
        assert rows[0].query_plan == "Mooncake DDL route: DROP VIEW"
        assert rows[-1].query_plan.endswith("not executed")
        assert spark.catalog.tableExists("tv_en")
        eng.sql(f"EXPLAIN SET {conf} = 3").collect()
        assert spark.conf.get(conf) == before
        eng.sql("EXPLAIN CACHE TABLE tv2_en AS SELECT 1").collect()
        assert not spark.catalog.tableExists("tv2_en")
        for stmt in (
            "CREATE INDEX c_en_name ON c_en (c_name)",
            "VACUUM c_en",
            "CREATE MATERIALIZED VIEW mv_en AS SELECT c_name, "
            "count(*) AS n FROM c_en GROUP BY c_name",
        ):
            rows = eng.sql(f"EXPLAIN {stmt}").collect()
            assert rows[0].query_plan.startswith("Mooncake "), stmt
            assert rows[-1].query_plan.endswith("not executed"), stmt
        assert set(eng.catalog.list_tables()) == {"c_en"}
        assert not eng._index_registry()
    finally:
        spark.conf.set(conf, before)
        spark.catalog.dropTempView("tv_en")
        spark.catalog.dropTempView("tv2_en")


def test_explain_analyze_executes_reads_only(eng, spark):
    spark.sql("CREATE OR REPLACE TEMP VIEW tv_ea AS SELECT 1 AS x")
    try:
        for stmt in ("DROP VIEW tv_ea", "CACHE TABLE tv2_ea AS SELECT 1"):
            with pytest.raises(ValueError, match="would execute the write"):
                eng.sql(f"EXPLAIN ANALYZE {stmt}")
        assert spark.catalog.tableExists("tv_ea")
        assert not spark.catalog.tableExists("tv2_ea")
        for stmt, n in (
            ("VALUES (1), (2)", 2),
            ("WITH a AS (SELECT 1 AS x) SELECT * FROM a", 1),
            ("TABLE tv_ea", 1),
            ("(SELECT 1 UNION ALL SELECT 2)", 2),
        ):
            rows = eng.sql(f"EXPLAIN ANALYZE {stmt}").collect()
            assert rows[-1].query_plan.startswith(f"Execution: {n} rows")
    finally:
        spark.catalog.dropTempView("tv_ea")


def test_statement_table_is_prefix_free_and_resolves():
    """No key of the statement table is a word-prefix of another (so the
    shortest matching prefix is the only one), and every handler it
    names exists on the engine."""
    from pg_mooncake_spark.sql_router import _STATEMENTS, _statement

    for k in _STATEMENTS:
        assert not [o for o in _STATEMENTS if o.startswith(k + " ")], k
    for _kind, handler in _STATEMENTS.values():
        assert not handler or callable(getattr(MooncakeEngine, handler))
    assert _statement("  select 1") == ("SELECT", "READ", "_sql_select")
    assert _statement("create unique  index i ON t (a)")[0] == (
        "CREATE UNIQUE INDEX"
    )
    assert _statement("(SELECT 1)")[:2] == ("(", "READ")
    assert _statement("CREATE OR REPLACE TEMP VIEW v AS SELECT 1") == (
        "", "SPARK", ""
    )
    assert _statement("COMMIT;")[1] == "TXN"


# ------------------------------------- SHOW / DESCRIBE / information_schema


def test_show_tables_and_describe(eng, cust):
    eng.create_table("c_cat", source_df=cust, primary_key=["c_custkey"])
    names = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert names == ["c_cat"]
    d = {r.column_name: r for r in eng.sql("DESCRIBE c_cat").collect()}
    assert d["c_custkey"].primary_key is True
    assert d["c_custkey"].data_type == "bigint"
    assert d["c_name"].data_type == "text"
    assert d["c_acctbal"].data_type == "double precision"


def test_information_schema_tables_and_columns(eng, cust):
    eng.create_table("c_is", source_df=cust, primary_key=["c_custkey"])
    t = eng.sql(
        "SELECT table_schema, table_name, table_type "
        "FROM information_schema.tables"
    ).collect()
    assert [(r.table_schema, r.table_name, r.table_type) for r in t] == [
        ("public", "c_is", "BASE TABLE")
    ]
    cols = eng.sql(
        "SELECT column_name, ordinal_position, data_type "
        "FROM information_schema.columns WHERE table_name = 'c_is' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [r.column_name for r in cols] == [
        "c_custkey", "c_name", "c_acctbal"
    ]
    assert cols[0].data_type == "bigint"
    # a string literal mentioning information_schema.tables is untouched
    lit = eng.sql("SELECT 'information_schema.tables' AS s").collect()
    assert lit[0].s == "information_schema.tables"


def test_information_schema_joins_mirror(eng, cust):
    """The rewritten relations join against mirror data in one
    statement (resolution and rewrite compose)."""
    eng.create_table("c_isj", source_df=cust, primary_key=["c_custkey"])
    row = eng.sql(
        "SELECT c.n, ic.n_cols FROM "
        "(SELECT count(*) AS n FROM c_isj) c CROSS JOIN "
        "(SELECT count(*) AS n_cols FROM information_schema.columns "
        " WHERE table_name = 'c_isj') ic"
    ).collect()[0]
    assert row.n == cust.count() and row.n_cols == 3


# ------------------------------------------------------------ time travel


def test_sql_time_travel_version(eng, cust):
    eng.create_table("c_tt", source_df=cust, primary_key=["c_custkey"])
    eng.sql("DELETE FROM c_tt WHERE c_custkey > 10")
    now = eng.sql("SELECT count(*) AS n FROM c_tt").collect()[0].n
    v1 = eng.sql(
        "SELECT count(*) AS n FROM c_tt FOR VERSION AS OF 1"
    ).collect()[0].n
    kept = cust.filter("c_custkey <= 10").count()
    assert v1 == cust.count() and now == kept
    # bare Delta spelling, and a self-join across versions
    assert eng.sql(
        "SELECT count(*) AS n FROM c_tt VERSION AS OF 1"
    ).collect()[0].n == cust.count()
    gone = eng.sql(
        "SELECT count(*) AS n FROM c_tt FOR VERSION AS OF 1 a "
        "LEFT ANTI JOIN c_tt b ON a.c_custkey = b.c_custkey"
    ).collect()[0].n
    assert gone == cust.count() - kept


def test_sql_time_travel_timestamp(eng, cust):
    import datetime

    eng.create_table("c_ts", source_df=cust, primary_key=["c_custkey"])
    eng.sql("DELETE FROM c_ts WHERE c_custkey > 10")
    ts = datetime.datetime.now(datetime.timezone.utc).isoformat()
    n = eng.sql(
        f"SELECT count(*) AS n FROM c_ts FOR SYSTEM_TIME AS OF '{ts}'"
    ).collect()[0].n
    assert n == cust.filter("c_custkey <= 10").count()
    with pytest.raises(ValueError, match="quoted timestamp"):
        eng.sql("SELECT * FROM c_ts FOR TIMESTAMP AS OF 3")
    with pytest.raises(ValueError, match="integer"):
        eng.sql("SELECT * FROM c_ts FOR VERSION AS OF '3'")
    # a string literal spelling the clause is untouched
    s = eng.sql("SELECT 'c_ts FOR VERSION AS OF 1' AS s").collect()[0].s
    assert s == "c_ts FOR VERSION AS OF 1"


def test_describe_shows_constraints(eng):
    eng.sql("""CREATE TABLE dsc (
      id bigint PRIMARY KEY,
      v int NOT NULL DEFAULT 3,
      d double precision GENERATED ALWAYS AS (v * 2.0) STORED
    )""")
    d = {r.column_name: r for r in eng.sql("DESCRIBE dsc").collect()}
    assert d["id"].is_nullable == "NO" and d["id"].primary_key
    assert d["v"].is_nullable == "NO" and d["v"].column_default == "3"
    assert d["d"].generation_expression == "v * 2.0"
    c = {
        r.column_name: r
        for r in eng.sql(
            "SELECT column_name, is_nullable, column_default "
            "FROM information_schema.columns WHERE table_name = 'dsc'"
        ).collect()
    }
    assert c["v"].is_nullable == "NO" and c["v"].column_default == "3"


def test_vacuum_and_analyze_spellings(eng, cust):
    eng.create_table("vt", source_df=cust.limit(50), primary_key=["c_custkey"])
    for i in range(3):
        eng.sql(f"UPDATE vt SET c_acctbal = c_acctbal + 1 WHERE c_custkey % 7 = {i}")
    eng.sql("VACUUM vt")
    eng.sql("VACUUM (FULL, ANALYZE) vt")
    eng.sql("VACUUM")            # catalog-wide sweep
    eng.sql("ANALYZE vt")
    eng.sql("ANALYZE VERBOSE vt (c_acctbal)")
    import pytest as _pytest
    with _pytest.raises(Exception):
        eng.sql("ANALYZE no_such_table")
    assert eng.sql("SELECT count(*) AS n FROM vt").collect()[0].n == 50
    eng.sql("BEGIN")
    with _pytest.raises(ValueError, match="cannot run inside a transaction"):
        eng.sql("VACUUM vt")
    eng.sql("ROLLBACK")


def test_select_into_and_cluster(eng, cust):
    eng.create_table("ci_src", source_df=cust, primary_key=["c_custkey"])
    eng.sql(
        "SELECT c_custkey, c_acctbal INTO ci_top FROM ci_src "
        "WHERE c_acctbal > 0"
    )
    n = eng.sql("SELECT count(*) AS n FROM ci_top").collect()[0].n
    assert n == eng.sql(
        "SELECT count(*) AS n FROM ci_src WHERE c_acctbal > 0"
    ).collect()[0].n
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("SELECT c_custkey INTO ci_top FROM ci_src")
    # a plain SELECT with 'into' inside a string literal is untouched
    r = eng.sql("SELECT 'go into town' AS s").collect()
    assert r[0].s == "go into town"
    eng.sql("CLUSTER ci_src")
    assert eng.sql("SELECT count(*) AS n FROM ci_src").collect()[0].n > 0
    with pytest.raises(ValueError, match="clustered index"):
        eng.sql("CLUSTER ci_top")  # keyless CTAS table


def test_information_schema_constraints(eng):
    eng.sql("""CREATE TABLE isc (
      id bigint PRIMARY KEY,
      v int NOT NULL CHECK (v > 0),
      CONSTRAINT v_small CHECK (v < 100)
    )""")
    tc = {
        r.constraint_name: r.constraint_type
        for r in eng.sql(
            "SELECT constraint_name, constraint_type "
            "FROM information_schema.table_constraints "
            "WHERE table_name = 'isc'"
        ).collect()
    }
    assert tc["isc_pkey"] == "PRIMARY KEY"
    assert tc["v_small"] == "CHECK"
    assert tc["isc_v_not_null"] == "CHECK"
    cc = {
        r.constraint_name: r.check_clause
        for r in eng.sql(
            "SELECT constraint_name, check_clause "
            "FROM information_schema.check_constraints"
        ).collect()
    }
    assert cc["v_small"] == "v < 100"
    assert cc["isc_v_not_null"] == "v IS NOT NULL"
    assert cc["isc_check"] == "v > 0"


def test_prepare_declared_arity_and_paren_types(eng):
    eng.sql("PREPARE pt (numeric(10,2), int) AS SELECT CAST($1 AS DOUBLE) AS v")
    # declared list governs arity: the unreferenced $2 is legal
    r = eng.sql("EXECUTE pt(1.5, 42)").collect()
    assert r[0].v == 1.5
    with pytest.raises(ValueError, match="supplies 1 parameters"):
        eng.sql("EXECUTE pt(1.5)")
    eng.sql("DEALLOCATE pt")


def test_tz_aware_param_binds_the_instant(eng, spark):
    import datetime as dt

    tz = dt.timezone(dt.timedelta(hours=-7))
    aware = dt.datetime(2026, 1, 1, 5, 0, 0, tzinfo=tz)  # = 12:00 UTC
    r = eng.sql(
        "SELECT CAST($1 AS STRING) AS s", params=[aware]
    ).collect()[0].s
    # the rendered instant is 12:00 UTC regardless of session tz
    sess_tz = spark.conf.get("spark.sql.session.timeZone")
    assert sess_tz == "UTC" and r.startswith("2026-01-01 12:00:00")


def test_savepoint_shadowing_postgres_semantics(eng):
    eng.sql("CREATE TABLE svs (id bigint PRIMARY KEY)")
    eng.sql("BEGIN")
    eng.sql("SAVEPOINT a")
    eng.sql("INSERT INTO svs VALUES (1)")
    eng.sql("SAVEPOINT a")               # shadows, does not destroy
    eng.sql("INSERT INTO svs VALUES (2)")
    eng.sql("RELEASE a")                 # releases the NEWER a
    eng.sql("ROLLBACK TO a")             # the older a resurfaces
    eng.sql("COMMIT")
    assert eng.sql("SELECT count(*) AS n FROM svs").collect()[0].n == 0


@pytest.mark.parametrize("bad", [
    "SAVEPOINT 1bad", "RELEASE nosuch", "ROLLBACK TO nosuch", "BEGIN bogus",
])
def test_failed_transaction_control_aborts_the_block(eng, bad):
    # Postgres aborts an open block on ANY error, transaction-control
    # statements included; COMMIT and ROLLBACK still end the block
    eng.sql("CREATE TABLE tcx (id bigint PRIMARY KEY)")
    for end in ("COMMIT", "ROLLBACK"):
        eng.sql("BEGIN")
        eng.sql("INSERT INTO tcx VALUES (1)")
        with pytest.raises(ValueError):
            eng.sql(bad)
        assert eng._txn["aborted"]
        with pytest.raises(ValueError, match="transaction is aborted"):
            eng.sql("INSERT INTO tcx VALUES (2)")
        eng.sql(end)
        assert eng._txn is None
        assert eng.table("tcx").count() == 0


def test_logical_views_persist_and_track_base(eng, cust, spark, warehouse):
    from pg_mooncake_spark.engine import MooncakeEngine

    eng.create_table("lv_base", source_df=cust.limit(100),
                     primary_key=["c_custkey"])
    eng.sql("CREATE VIEW rich AS "
            "SELECT c_custkey, c_acctbal FROM lv_base WHERE c_acctbal > 0")
    n1 = eng.sql("SELECT count(*) AS n FROM rich").collect()[0].n
    # the view re-plans against the CURRENT base: a delete shows through
    eng.sql("DELETE FROM lv_base WHERE c_acctbal > 0")
    assert eng.sql("SELECT count(*) AS n FROM rich").collect()[0].n == 0
    assert n1 > 0
    # persists across engine attach (a Spark temp view would not)
    eng2 = MooncakeEngine(spark, warehouse)
    assert eng2.sql("SELECT count(*) AS n FROM rich").collect()[0].n == 0
    # nested views + OR REPLACE + introspection
    eng.sql("CREATE VIEW rich2 AS SELECT c_custkey FROM rich")
    assert eng.sql("SELECT count(*) AS n FROM rich2").collect()[0].n == 0
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE VIEW rich AS SELECT 1 AS x")
    eng.sql("CREATE OR REPLACE VIEW rich AS "
            "SELECT c_custkey, c_acctbal FROM lv_base")
    assert eng.sql("SELECT count(*) AS n FROM rich").collect()[0].n > 0
    kinds = {r.table: r.kind for r in eng.list_tables().collect()}
    assert kinds["rich"] == "logical_view"
    tt = {r.table_name: r.table_type for r in eng.sql(
        "SELECT table_name, table_type FROM information_schema.tables"
    ).collect()}
    assert tt["rich"] == "VIEW"
    # bad body refuses at CREATE; DROP VIEW removes from the catalog
    with pytest.raises(Exception):
        eng.sql("CREATE VIEW broken AS SELECT * FROM no_such_table")
    eng.sql("DROP VIEW rich2")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM rich2")


def test_view_column_alias_list_and_drop_view_guards(eng, cust):
    eng.create_table("va_base", source_df=cust.limit(10),
                     primary_key=["c_custkey"])
    eng.sql("CREATE VIEW va (key, balance) AS "
            "SELECT c_custkey, c_acctbal FROM va_base")
    cols = eng.sql("SELECT * FROM va").columns
    assert cols == ["key", "balance"]
    with pytest.raises(ValueError, match="2 column names"):
        eng.sql("CREATE VIEW va2 (a, b) AS SELECT c_custkey FROM va_base")
    with pytest.raises(ValueError, match="is not a view"):
        eng.sql("DROP VIEW va_base")
    # classification + columns introspection
    c = [r.column_name for r in eng.sql(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'va' ORDER BY ordinal_position"
    ).collect()]
    assert c == ["key", "balance"]


def test_prepare_marker_bounds_validate_at_prepare(eng):
    with pytest.raises(ValueError, match=r"no parameter \$3"):
        eng.sql("PREPARE pb (int) AS SELECT $3")
    with pytest.raises(ValueError, match=r"no parameter \$0"):
        eng.sql("PREPARE pz AS SELECT $0")
