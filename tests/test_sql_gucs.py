"""Session GUCs (SET / SHOW / RESET), the reset maintenance command, and
the ALTER ... SET ACCESS METHOD refusal (round 13).

The reference exposes engine settings as SQL GUCs — duckdb.max_memory /
duckdb.threads (reference CHANGELOG.md:13-14, non-superuser fix :7) — and
a reset-engine maintenance command (CHANGELOG.md:12); a tuning script's
first lines are SET statements.  Here the same spellings drive Spark
session confs."""

from __future__ import annotations

import pytest

from pg_mooncake_spark.engine import MooncakeEngine
from pg_mooncake_spark.sql_router import UnknownTableError

from tests.conftest import SF_DIR


@pytest.fixture()
def eng(spark, warehouse):
    e = MooncakeEngine(spark, warehouse)
    yield e
    # tests mutate session confs: restore everything they set
    e.sql("RESET ALL")


def test_set_show_threads_maps_to_shuffle_partitions(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("SET mooncake.threads = 4")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    row = eng.sql("SHOW mooncake.threads").collect()[0]
    assert row["mooncake.threads"] == "4"
    # duckdb.* aliases resolve to the same canonical GUC
    eng.sql("SET duckdb.threads TO 6")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
    eng.sql("RESET mooncake.threads")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_set_max_memory_validates_and_shows(eng):
    eng.sql("SET mooncake.max_memory = '4GB'")
    assert (
        eng.sql("SHOW duckdb.max_memory").collect()[0]["mooncake.max_memory"]
        == "4GB"
    )
    with pytest.raises(ValueError, match="invalid value"):
        eng.sql("SET mooncake.max_memory = 'lots'")
    with pytest.raises(ValueError, match="invalid value"):
        eng.sql("SET mooncake.threads = 'many'")
    with pytest.raises(ValueError, match="invalid value"):
        eng.sql("SET mooncake.threads = 0")


def test_unknown_parameter_errors_loudly(eng):
    with pytest.raises(ValueError, match="unrecognized configuration"):
        eng.sql("SET mooncake.bogus = 1")
    with pytest.raises(ValueError, match="unrecognized configuration"):
        eng.sql("SHOW duckdb.nope")
    with pytest.raises(ValueError, match="unrecognized configuration"):
        eng.sql("RESET just_not_a_thing")


def test_time_zone_spellings(eng, spark):
    before = spark.conf.get("spark.sql.session.timeZone")
    eng.sql("SET TIME ZONE 'UTC'")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert eng.sql("SHOW TIME ZONE").collect()[0]["timezone"] == "UTC"
    eng.sql("SET timezone TO 'America/New_York'")
    assert (
        spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    )
    eng.sql("RESET TIME ZONE")
    assert spark.conf.get("spark.sql.session.timeZone") == before


def test_spark_conf_passthrough_and_reset_all(eng, spark):
    eng.sql("SET spark.sql.autoBroadcastJoinThreshold = '1MB'")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1MB"
    eng.sql("RESET ALL")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "1MB"


def test_show_all_lists_gucs(eng):
    eng.sql("SET mooncake.max_memory = '2GB'")
    rows = {r["name"]: r["setting"] for r in eng.sql("SHOW ALL").collect()}
    assert rows["mooncake.max_memory"] == "2GB"
    assert "mooncake.threads" in rows
    assert "search_path" in rows


def test_set_default_is_reset(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("SET mooncake.threads = 4")
    eng.sql("SET mooncake.threads = DEFAULT")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_spark_show_spellings_still_pass_through(eng):
    # SHOW TABLES is the engine's own relation listing; Spark's
    # multi-word SHOW forms must not be captured by the GUC route
    eng.sql("SHOW TABLES").collect()
    eng.sql("SHOW DATABASES").collect()


def test_set_is_transactional(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    # plain SET: survives COMMIT, reverted by ROLLBACK (Postgres)
    eng.sql("BEGIN")
    eng.sql("SET mooncake.threads = 5")
    eng.sql("ROLLBACK")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    eng.sql("BEGIN")
    eng.sql("SET mooncake.threads = 5")
    eng.sql("COMMIT")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    # SET LOCAL: reverted even at COMMIT
    eng.sql("BEGIN")
    eng.sql("SET LOCAL mooncake.threads = 9")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "9"
    eng.sql("COMMIT")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    eng.sql("RESET mooncake.threads")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_reset_command_clears_session_state(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("PREPARE r13p AS SELECT 1 AS one")
    eng.sql("SET mooncake.threads = 7")
    # like Postgres DISCARD ALL, reset refuses inside a transaction block
    eng.sql("BEGIN")
    with pytest.raises(ValueError, match="transaction block"):
        eng.sql("CALL mooncake.reset()")
    eng.sql("ROLLBACK")
    eng.sql("CALL mooncake.reset()")
    # GUCs restored, prepared statements gone, no txn left open
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("EXECUTE r13p")
    assert (
        "no transaction" in eng.sql("COMMIT").collect()[0]["detail"]
    )


def test_alter_set_access_method_refuses_loudly(eng, spark):
    cust = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .select("c_custkey", "c_name")
        .limit(5)
    )
    eng.create_table("am_t", source_df=cust, primary_key=["c_custkey"])
    with pytest.raises(ValueError, match="not applicable"):
        eng.sql("ALTER TABLE am_t SET ACCESS METHOD columnstore")
    with pytest.raises(ValueError):  # unknown table errors first
        eng.sql("ALTER TABLE no_such SET ACCESS METHOD heap")


def test_alter_unknown_table_errors_before_any_action(eng):
    for action in (
        "SET ACCESS METHOD heap", "OWNER TO bob", "ADD COLUMN c int",
        "RENAME TO other", "DROP COLUMN c",
    ):
        with pytest.raises(UnknownTableError, match="unknown mirror"):
            eng.sql(f"ALTER TABLE no_such {action}")
        row = eng.sql(f"ALTER TABLE IF EXISTS no_such {action}").collect()
        assert row[0].version == 0
    # the lookup sees the open block: a table dropped there is unknown
    eng.sql("CREATE TABLE gone (k int PRIMARY KEY)")
    eng.sql("BEGIN")
    eng.sql("DROP TABLE gone")
    with pytest.raises(UnknownTableError, match="dropped"):
        eng.sql("ALTER TABLE gone OWNER TO bob")
    eng.sql("ROLLBACK")
    assert eng.sql("ALTER TABLE gone OWNER TO bob").collect()[0].version == 0


def test_discard_spellings(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("PREPARE d13 AS SELECT 1 AS one")
    eng.sql("DISCARD PLANS")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("EXECUTE d13")
    eng.sql("DISCARD TEMP")
    eng.sql("DISCARD SEQUENCES")
    eng.sql("SET mooncake.threads = 3")
    eng.sql("BEGIN")
    with pytest.raises(ValueError, match="transaction block"):
        eng.sql("DISCARD ALL")
    eng.sql("ROLLBACK")
    eng.sql("DISCARD ALL")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------- round-13 self-review findings


def test_commit_lands_on_last_plain_set_after_set_local(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("BEGIN")
    eng.sql("SET LOCAL mooncake.threads = 4")
    eng.sql("SET mooncake.threads = 16")
    eng.sql("COMMIT")
    # Postgres: the plain SET survives COMMIT even though a SET LOCAL
    # touched the same GUC earlier in the block
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    eng.sql("RESET mooncake.threads")
    # and the reverse order: plain SET then SET LOCAL — commit still
    # lands on the plain SET value, reverting only the LOCAL tail
    eng.sql("BEGIN")
    eng.sql("SET mooncake.threads = 12")
    eng.sql("SET LOCAL mooncake.threads = 4")
    eng.sql("COMMIT")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
    eng.sql("RESET mooncake.threads")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_rollback_to_savepoint_reverts_gucs(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("BEGIN")
    eng.sql("SAVEPOINT s1")
    eng.sql("SET mooncake.threads = 8")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    eng.sql("ROLLBACK TO s1")
    # the SET after the savepoint is gone NOW, not just at block end
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    eng.sql("COMMIT")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_set_local_outside_txn_is_noop(eng, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.sql("SET LOCAL mooncake.threads = 9")
    # Postgres warns and takes NO effect outside a transaction block
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
