"""Round 16: the rest of what a VERBATIM pg_dump replays — the
preamble SET list, set_config(), CREATE/DROP SCHEMA, CREATE EXTENSION,
OWNER TO / GRANT / REVOKE, and the post-data ADD CONSTRAINT PRIMARY
KEY / UNIQUE / FOREIGN KEY shapes.  The reference's host Postgres
executes all of these natively (its bootstrap is CREATE SCHEMA
mooncake + CREATE EXTENSION pg_mooncake)."""

from __future__ import annotations

import pytest

from pg_mooncake_spark.engine import MooncakeEngine

PREAMBLE = [
    "SET statement_timeout = 0",
    "SET lock_timeout = 0",
    "SET idle_in_transaction_session_timeout = 0",
    "SET transaction_timeout = 0",
    "SET client_encoding = 'UTF8'",
    "SET standard_conforming_strings = on",
    "SELECT pg_catalog.set_config('search_path', '', false)",
    "SET check_function_bodies = false",
    "SET xmloption = content",
    "SET client_min_messages = warning",
    "SET row_security = off",
    "SET default_tablespace = ''",
    "SET default_table_access_method = heap",
]


@pytest.fixture()
def eng(spark, warehouse):
    return MooncakeEngine(spark, warehouse)


class TestPreamble:
    def test_verbatim_pg_dump_preamble(self, eng):
        for s in PREAMBLE:
            eng.sql(s)  # statement 1 of a real restore must not fail

    def test_set_config_returns_value_and_sets(self, eng):
        r = eng.sql(
            "SELECT pg_catalog.set_config('client_min_messages', "
            "'warning', false)"
        ).collect()[0]
        assert r[0] == "warning"
        assert eng.sql("SHOW client_min_messages").collect()[0][0] \
            == "warning"

    def test_set_config_local_is_txn_scoped(self, eng):
        eng.sql("BEGIN")
        eng.sql(
            "SELECT set_config('client_min_messages', 'error', true)"
        )
        assert eng.sql("SHOW client_min_messages").collect()[0][0] \
            == "error"
        eng.sql("ROLLBACK")
        assert eng.sql("SHOW client_min_messages").collect()[0][0] \
            == "notice"

    def test_unknown_parameter_still_errors(self, eng):
        with pytest.raises(ValueError, match="unrecognized"):
            eng.sql("SELECT set_config('no_such_param', 'x', false)")
        with pytest.raises(ValueError, match="unrecognized"):
            eng.sql("SET no_such_param = 1")


class TestSchemas:
    def test_create_drop_lifecycle(self, eng):
        eng.sql("CREATE SCHEMA app")
        eng.sql("CREATE SCHEMA IF NOT EXISTS app")
        with pytest.raises(ValueError, match="already exists"):
            eng.sql("CREATE SCHEMA app")
        eng.sql("DROP SCHEMA app")
        with pytest.raises(ValueError, match="does not exist"):
            eng.sql("DROP SCHEMA app")
        eng.sql("DROP SCHEMA IF EXISTS app")

    def test_drop_nonempty_needs_cascade(self, eng):
        eng.sql("CREATE SCHEMA app")
        eng.sql("CREATE TABLE app.t (id serial PRIMARY KEY, v text)")
        with pytest.raises(ValueError, match="CASCADE"):
            eng.sql("DROP SCHEMA app")
        eng.sql("DROP SCHEMA app CASCADE")
        assert "app.t" not in eng.catalog.list_tables()
        assert not [
            s for s in eng.catalog.sequences() if s.startswith("app.")
        ]

    def test_reference_bootstrap(self, eng):
        # the reference's own install sequence
        eng.sql("CREATE EXTENSION IF NOT EXISTS pg_mooncake")
        eng.sql("CREATE SCHEMA IF NOT EXISTS mooncake")

    def test_extension_lifecycle(self, eng):
        eng.sql("CREATE EXTENSION pgcrypto")
        with pytest.raises(ValueError, match="already exists"):
            eng.sql("CREATE EXTENSION pgcrypto")
        eng.sql("COMMENT ON EXTENSION pgcrypto IS 'hash functions'")
        eng.sql("DROP EXTENSION pgcrypto")
        with pytest.raises(ValueError, match="does not exist"):
            eng.sql("DROP EXTENSION pgcrypto")


class TestOwnershipInert:
    def test_owner_to_validates_target(self, eng):
        eng.sql("CREATE TABLE ot (id int PRIMARY KEY)")
        eng.sql("ALTER TABLE ot OWNER TO app_user")
        eng.sql("ALTER TABLE ONLY ot OWNER TO app_user")
        with pytest.raises(Exception):
            eng.sql("ALTER TABLE no_such OWNER TO app_user")
        eng.sql("CREATE SEQUENCE os")
        eng.sql("ALTER SEQUENCE os OWNER TO app_user")
        eng.sql("CREATE SCHEMA osch")
        eng.sql("ALTER SCHEMA osch OWNER TO app_user")
        with pytest.raises(ValueError):
            eng.sql("ALTER SCHEMA no_such OWNER TO app_user")

    def test_alter_table_if_exists_skips_missing(self, eng):
        # Postgres skips a missing table for every action (pg_dump
        # --clean --if-exists spells ALTER TABLE IF EXISTS ONLY)
        for stmt in (
            "ALTER TABLE IF EXISTS missing OWNER TO bob",
            "ALTER TABLE IF EXISTS missing SET SCHEMA public",
            "ALTER TABLE IF EXISTS ONLY missing OWNER TO bob",
            "ALTER TABLE IF EXISTS ONLY missing ADD COLUMN c int",
            "ALTER TABLE IF EXISTS ONLY public.missing "
            "DROP CONSTRAINT c_pk",
        ):
            assert eng.sql(stmt).collect()[0].version == 0, stmt
        eng.sql("CREATE TABLE ie (id int PRIMARY KEY)")
        eng.sql("ALTER TABLE IF EXISTS ONLY ie ADD COLUMN c int")
        assert "c" in eng.table("ie").columns
        with pytest.raises(KeyError):
            eng.sql("ALTER TABLE ONLY missing ADD COLUMN c int")

    def test_grant_revoke_inert(self, eng):
        eng.sql("GRANT ALL ON SCHEMA public TO PUBLIC")
        eng.sql("REVOKE ALL ON SCHEMA public FROM PUBLIC")
        eng.sql(
            "GRANT SELECT, INSERT ON TABLE anything TO some_role "
            "WITH GRANT OPTION"
        )

    def test_comment_on_namespace_objects(self, eng):
        eng.sql("CREATE SCHEMA cs")
        eng.sql("COMMENT ON SCHEMA cs IS 'x'")
        with pytest.raises(ValueError, match="does not exist"):
            eng.sql("COMMENT ON SCHEMA nope IS 'x'")
        eng.sql("CREATE SEQUENCE cseq")
        eng.sql("COMMENT ON SEQUENCE cseq IS 'x'")
        with pytest.raises(ValueError, match="does not exist"):
            eng.sql("COMMENT ON SEQUENCE nope_seq IS 'x'")


class TestLatePrimaryKey:
    def test_post_data_pk_then_dml(self, eng):
        eng.sql("CREATE TABLE pkt (id int NOT NULL, v text)")
        eng.sql("INSERT INTO pkt VALUES (1, 'a'), (2, 'b')")
        eng.sql(
            "ALTER TABLE ONLY pkt ADD CONSTRAINT pkt_pkey "
            "PRIMARY KEY (id)"
        )
        assert eng._moontable("pkt").primary_key() == ["id"]
        eng.sql("UPDATE pkt SET v = 'z' WHERE id = 1")
        assert sorted(tuple(r) for r in eng.table("pkt").collect()) \
            == [(1, "z"), (2, "b")]

    def test_second_pk_refused(self, eng):
        eng.sql("CREATE TABLE p2 (id int PRIMARY KEY, v text)")
        with pytest.raises(ValueError, match="multiple primary keys"):
            eng.sql("ALTER TABLE p2 ADD PRIMARY KEY (v)")

    def test_null_and_duplicate_scans(self, eng):
        eng.sql("CREATE TABLE pn (id int, v text)")
        eng.sql("INSERT INTO pn VALUES (1, 'a'), (NULL, 'b')")
        with pytest.raises(ValueError, match="null values"):
            eng.sql("ALTER TABLE pn ADD PRIMARY KEY (id)")
        eng.sql("CREATE TABLE pd (id int NOT NULL)")
        eng.sql("INSERT INTO pd VALUES (1), (1)")
        with pytest.raises(ValueError, match="duplicate key"):
            eng.sql("ALTER TABLE pd ADD PRIMARY KEY (id)")

    def test_in_block_created_table(self, eng):
        # the pg_dump --single-transaction shape: CREATE, load, then
        # post-data ADD CONSTRAINT inside one block
        eng.sql("BEGIN")
        eng.sql("CREATE TABLE public.d (id integer NOT NULL, v text)")
        eng.sql("INSERT INTO public.d VALUES (1, 'x'), (2, 'y')")
        eng.sql(
            "ALTER TABLE ONLY public.d ADD CONSTRAINT d_pkey "
            "PRIMARY KEY (id)"
        )
        eng.sql("COMMIT")
        assert eng._moontable("public.d").primary_key() == ["id"]
        eng.sql("UPDATE public.d SET v = 'q' WHERE id = 2")
        assert sorted(tuple(r) for r in
                      eng.table("public.d").collect()) \
            == [(1, "x"), (2, "q")]

    def test_in_block_duplicate_refused_at_stage(self, eng):
        eng.sql("BEGIN")
        eng.sql("CREATE TABLE bd (id int NOT NULL)")
        eng.sql("INSERT INTO bd VALUES (1), (1)")
        with pytest.raises(ValueError, match="duplicate key"):
            eng.sql("ALTER TABLE bd ADD PRIMARY KEY (id)")
        eng.sql("ROLLBACK")

    def test_staged_on_untouched_table(self, eng):
        eng.sql("CREATE TABLE ut (id int NOT NULL, v text)")
        eng.sql("INSERT INTO ut VALUES (1, 'a')")
        eng.sql("BEGIN")
        eng.sql("ALTER TABLE ut ADD PRIMARY KEY (id)")
        eng.sql("COMMIT")
        assert eng._moontable("ut").primary_key() == ["id"]

    def test_unique_and_fk_validate_by_default(self, eng):
        # round 17: the GUCs flipped from refuse to validate-then-record
        # — default runs the scan; 'on' skips it (records unenforced)
        eng.sql("CREATE TABLE uf (id int PRIMARY KEY, v text)")
        eng.sql("ALTER TABLE uf ADD CONSTRAINT uf_v UNIQUE (v)")
        idx = (eng._constraints("uf") or {}).get("indexes", {})
        assert idx["uf_v"].get("unique") == "validated"
        eng.sql(
            "ALTER TABLE uf ADD CONSTRAINT uf_fk FOREIGN KEY (id) "
            "REFERENCES uf(id)"
        )
        fks = (eng._constraints("uf") or {}).get("foreign_keys", {})
        assert fks["uf_fk"]["validated"] is True
        eng.sql("SET mooncake.allow_unenforced_unique_indexes = on")
        eng.sql("ALTER TABLE uf ADD CONSTRAINT uf_v2 UNIQUE (id, v)")
        idx = (eng._constraints("uf") or {}).get("indexes", {})
        assert idx["uf_v2"].get("unique") == "unenforced"
        eng.sql("SET mooncake.allow_unenforced_foreign_keys = on")
        eng.sql(
            "ALTER TABLE uf ADD CONSTRAINT uf_fk2 FOREIGN KEY (id) "
            "REFERENCES uf(id)"
        )
        fks = (eng._constraints("uf") or {}).get("foreign_keys", {})
        assert fks["uf_fk2"]["validated"] is False
