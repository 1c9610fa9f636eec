"""Every SQL DML shape writes through one guarded batch path: the rows a
MERGE, an ON CONFLICT upsert or a join-shaped UPDATE/DELETE inserts
pass the same validated UNIQUE / FOREIGN KEY checks as a plain INSERT's
rows, the in-job arbitration errors keep their precedence, and a
statement on a table without such constraints runs no Spark job
outside its one apply.  Join-shaped UPDATE/DELETE compile through one
SELECT over the registered views."""

from __future__ import annotations

import uuid

import pytest

from pg_mooncake_spark.engine import MooncakeEngine

DUP = 'duplicate key value violates unique constraint "t_email"'
ORPHAN = 'violates foreign key constraint "t_pid_fk"'


@pytest.fixture()
def eng(spark, warehouse):
    return MooncakeEngine(spark, warehouse)


@pytest.fixture()
def gt(eng):
    """t(id pk, email, pid) with a validated UNIQUE (email) and a
    validated FOREIGN KEY (pid) REFERENCES p(id)."""
    eng.sql("CREATE TABLE p (id int PRIMARY KEY)")
    eng.sql("INSERT INTO p VALUES (1), (2)")
    eng.sql("CREATE TABLE t (id int PRIMARY KEY, email text, pid int)")
    eng.sql("INSERT INTO t VALUES (1, 'a@x', 1), (2, 'b@x', 2)")
    eng.sql("CREATE UNIQUE INDEX t_email ON t (email)")
    eng.sql(
        "ALTER TABLE t ADD CONSTRAINT t_pid_fk "
        "FOREIGN KEY (pid) REFERENCES p (id)"
    )
    return eng


def _rows(eng):
    return sorted(tuple(r) for r in eng.table("t").collect())


BEFORE = [(1, "a@x", 1), (2, "b@x", 2)]

class TestInsertedRowsGuarded:
    @pytest.mark.parametrize("row,err", [
        ("9 AS id, 'a@x' AS email, 1 AS pid", DUP),
        ("9 AS id, 'z@x' AS email, 99 AS pid", ORPHAN),
    ])
    def test_merge_not_matched_insert(self, gt, row, err):
        with pytest.raises(ValueError, match=err):
            gt.sql(
                f"MERGE INTO t USING (SELECT {row}) s ON t.id = s.id "
                "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.email, s.pid)"
            )
        assert _rows(gt) == BEFORE

    @pytest.mark.parametrize("row,err", [
        ("9, 'a@x', 1", DUP),
        ("9, 'z@x', 99", ORPHAN),
    ])
    def test_upsert_on_pk_fresh_rows(self, gt, row, err):
        with pytest.raises(ValueError, match=err):
            gt.sql(
                f"INSERT INTO t VALUES ({row}) "
                "ON CONFLICT (id) DO UPDATE SET pid = excluded.pid"
            )
        assert _rows(gt) == BEFORE

    def test_upsert_on_unique_fresh_orphan(self, gt):
        with pytest.raises(ValueError, match=ORPHAN):
            gt.sql(
                "INSERT INTO t VALUES (9, 'z@x', 99) "
                "ON CONFLICT (email) DO UPDATE SET pid = excluded.pid"
            )
        assert _rows(gt) == BEFORE

    def test_upsert_on_pk_in_block_reads_overlay(self, gt):
        gt.sql("BEGIN")
        gt.sql("INSERT INTO t VALUES (3, 'c@x', 1)")
        with pytest.raises(ValueError, match=DUP):
            gt.sql(
                "INSERT INTO t VALUES (4, 'c@x', 1) "
                "ON CONFLICT (id) DO UPDATE SET pid = excluded.pid"
            )
        assert gt._txn["aborted"]
        gt.sql("COMMIT")  # an aborted block rolls back
        assert _rows(gt) == BEFORE
        gt.sql("BEGIN")
        with pytest.raises(ValueError, match=DUP):
            gt.sql(
                "INSERT INTO t VALUES (9, 'a@x', 1) "
                "ON CONFLICT (id) DO UPDATE SET pid = excluded.pid"
            )
        gt.sql("COMMIT")
        assert _rows(gt) == BEFORE

    @pytest.mark.parametrize("target", ["id", "email"])
    def test_second_time_wins_over_guards(self, gt, target):
        # a key proposed twice AND a duplicate email AND an orphan:
        # Postgres's arbitration error comes first
        with pytest.raises(ValueError, match="second time"):
            gt.sql(
                "INSERT INTO t VALUES (7, 'q@x', 1), (7, 'q@x', 2), "
                "(8, 'a@x', 99) "
                f"ON CONFLICT ({target}) DO UPDATE SET pid = excluded.pid"
            )
        assert _rows(gt) == BEFORE

    def test_conflicting_rows_still_arbitrate(self, gt):
        gt.sql(
            "INSERT INTO t VALUES (1, 'a@x', 2), (5, 'e@x', 1) "
            "ON CONFLICT (id) DO UPDATE SET pid = excluded.pid"
        )
        gt.sql(
            "MERGE INTO t USING (SELECT 2 AS id, 'b@x' AS email, 1 AS pid "
            "UNION ALL SELECT 6, 'f@x', 2) s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET pid = s.pid "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.email, s.pid)"
        )
        assert _rows(gt) == [
            (1, "a@x", 2), (2, "b@x", 1), (5, "e@x", 1), (6, "f@x", 2),
        ]

    def test_updated_images_not_rechecked(self, gt):
        # documented divergence, unchanged: only inserted rows are guarded
        gt.sql(
            "INSERT INTO t VALUES (1, 'x', 1) "
            "ON CONFLICT (id) DO UPDATE SET email = 'b@x'"
        )
        assert _rows(gt) == [(1, "b@x", 1), (2, "b@x", 2)]

    def test_skip_hatches_still_skip(self, gt):
        gt.sql("SET mooncake.skip_unique_write_checks = on")
        gt.sql("SET mooncake.skip_fk_write_checks = on")
        gt.sql(
            "MERGE INTO t USING (SELECT 9 AS id, 'a@x' AS email, 99 AS pid) "
            "s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.email, s.pid)"
        )
        assert (9, "a@x", 99) in _rows(gt)

    def test_failing_returning_writes_nothing(self, gt):
        with pytest.raises(Exception, match="returning failed"):
            gt.sql(
                "UPDATE t SET pid = p.id FROM p WHERE t.id = p.id "
                "RETURNING id, raise_error('returning failed')"
            )
        assert _rows(gt) == BEFORE


def test_join_dml_quotes_column_names(eng):
    # the one-SELECT compile splices column names: a name that needs
    # quoting must survive it
    eng.sql('CREATE TABLE q ("my col" int, id int PRIMARY KEY)')
    eng.sql("INSERT INTO q VALUES (1, 1), (2, 2)")
    eng.sql(
        'UPDATE q SET "my col" = s.v FROM (SELECT 1 AS id, 9 AS v) s '
        "WHERE q.id = s.id"
    )
    eng.sql("DELETE FROM q WHERE id IN (SELECT 2)")
    assert [tuple(r) for r in eng.table("q").collect()] == [(9, 1)]


def _jobs_outside_apply(eng, stmt):
    """(jobs outside, jobs inside) the one apply_changes of ``stmt``."""
    sc = eng.spark.sparkContext
    tag = uuid.uuid4().hex
    outer, inner = f"dml-outside-{tag}", f"dml-apply-{tag}"
    apply = eng.apply_changes

    def _apply(*a, **k):
        sc.setJobGroup(inner, "apply_changes")
        try:
            return apply(*a, **k)
        finally:
            sc.setJobGroup(outer, "statement")

    eng.apply_changes = _apply
    sc.setJobGroup(outer, "statement")
    try:
        eng.sql(stmt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        del eng.apply_changes
    tracker = sc.statusTracker()
    return (
        len(tracker.getJobIdsForGroup(outer)),
        len(tracker.getJobIdsForGroup(inner)),
    )


@pytest.mark.parametrize("stmt", [
    "MERGE INTO j USING s ON j.id = s.id "
    "WHEN MATCHED AND s.v > 25 THEN DELETE "
    "WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v) "
    "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0",
    "INSERT INTO j VALUES (1, 5), (9, 9) "
    "ON CONFLICT (id) DO UPDATE SET v = excluded.v",
    "UPDATE j SET v = s.v FROM s WHERE j.id = s.id",
    "DELETE FROM j USING s WHERE j.id = s.id",
])
def test_unguarded_table_runs_jobs_only_in_the_apply(eng, stmt):
    eng.sql("CREATE TABLE j (id int PRIMARY KEY, v int)")
    eng.sql("INSERT INTO j VALUES (1, 1), (2, 2), (3, 3)")
    eng.sql("CREATE TABLE s (id int PRIMARY KEY, v int)")
    eng.sql("INSERT INTO s VALUES (2, 20), (3, 30), (4, 40)")
    outside, inside = _jobs_outside_apply(eng, stmt)
    assert inside > 0
    assert outside == 0, f"{outside} job(s) outside apply_changes"
