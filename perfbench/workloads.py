"""The three closed-loop, single-client workloads.

Each workload starts from a fresh warehouse and a seeded operation
sequence, so its state trajectory repeats from run to run.  ``step``
runs one timed operation and returns an :class:`Op`; every output check
happens outside the timed region and a mismatch marks the operation
failed.

- ``analytics``: one operation is a round of the 24 ``bench.HEADLINE``
  registry queries, each forced through the ``noop`` sink.
- ``cdc_mirror``: one operation is a key-compacted CDC batch handed to
  ``apply_changes`` on an ``orders`` mirror that has a change feed, one
  incremental MV and one Iceberg export, followed by the freshness read
  (``wait_for_source_version`` + an ``engine.sql`` lookup of a changed
  key).
- ``sql_session``: one operation is one statement of a fixed
  60-statement cycle of three blocks, each 18 ``engine.sql`` reads and
  one single-row write over plain ``orders``/``customer`` mirrors, then
  one analytic report (a registry query from ``bench.HEADLINE``, forced
  through the ``noop`` sink).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Optional

from perfbench import check, datagen

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


@dataclass
class Op:
    """One timed operation: its wall time and what it did."""

    kind: str
    seconds: float
    parts: dict[str, float] = field(default_factory=dict)
    change_bytes: int = 0
    # DataFrames executed through their own query execution (collect)
    frames: list = field(default_factory=list)
    errors: list[str] = field(default_factory=list)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that still has at
    least 10 samples beyond it; below 11 samples there is none, so the
    maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    j = n - 11
    return xs[j], 100.0 * (j + 1) / n, n


def _p50(xs: list[float]) -> float:
    return statistics.median(xs)


def _money(v: float) -> Decimal:
    return Decimal(str(v)).quantize(Decimal("0.01"))


class Workload:
    name = ""
    # sf0.01 = 15k orders, 60k lineitem rows: per-operation costs are fixed
    # (Spark jobs, py4j, commit-log I/O) and match sf0.1's within noise
    sf = 0.01
    # timed operations a run makes whatever its time budget
    min_ops = 1
    # a traced run alternates runs of ``cycle`` operations traced and not
    cycle = 1

    def __init__(self, ctx: Any) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(ctx.seed * 1_000_003 + 7)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # set-up phase -> seconds, printed with the run's phase times
        self.setup_phases: dict[str, float] = {}
        self._t_mark = time.perf_counter()

    def _mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.setup_phases[phase] = now - self._t_mark
        self._t_mark = now

    def _fail(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def setup(self) -> None:
        raise NotImplementedError

    def step(self, i: int) -> Op:
        raise NotImplementedError

    def verify(self) -> None:
        """Final-state checks; each counts as one attempted operation."""

    def tables(self) -> list:
        """MoonTables whose file counts the traced run reports."""
        return []

    def export_dirs(self) -> list[str]:
        return []

    def report(self, ops: list[Op]) -> tuple[dict, dict]:
        """(named metrics {name: (value, unit, note)}, gated metrics)."""
        raise NotImplementedError

    def _engine(self):
        from pg_mooncake_spark.engine import MooncakeEngine

        return MooncakeEngine(self.spark, os.path.join(self.ctx.work, "warehouse"))

    def _data(self) -> dict:
        tabs = datagen.generate(self.ctx.seed, self.ctx.sf)
        self.data_dir = datagen.write(tabs, os.path.join(self.ctx.work, "data"))
        return tabs

    def _check_registry(self, keys: list[str], corrupt: bool = False) -> None:
        """Untimed first run of registry queries ``keys`` over the data dir,
        each output checked against its DuckDB ``oracle_sql``; keeps the
        query functions in ``self.fns``."""
        import duckdb

        from pg_mooncake_spark.queries.registry import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        self.fns = {k: queries[k] for k in keys}
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
            )
        for k in keys:
            errs: list[str] = []
            try:
                df = self.fns[k](self.spark, self.data_dir)
                got = df.collect()
                if corrupt and k == keys[0]:
                    got = got[1:]
                cur = con.execute(oracles[k])
                want = cur.fetchall()
                errs = check.compare_rows(
                    k, df.columns, got, [c[0] for c in cur.description], want
                )
            except Exception as e:  # noqa: BLE001 - counted, not raised
                errs = [f"{k}: {type(e).__name__}: {str(e)[:300]}"]
            self._fail(errs)
        con.close()

    def _run_query(self, key: str) -> float:
        """Seconds to build registry query ``key`` and run it through the
        ``noop`` sink (which evaluates every output column)."""
        t0 = time.perf_counter()
        df = self.ctx.tracer.span("queries.build", self.fns[key],
                                  self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


# ---------------------------------------------------------------- analytics

RELATIONAL = ("q", "join_", "agg_", "window_", "topk_")
PIPELINE = ("dedup_", "sim_", "text_", "events_", "media_", "delta_")


class Analytics(Workload):
    name = "analytics"
    # the 24 first runs cost about 1.5 s each whatever the size; sf0.001
    # keeps a traced run (cold checked pass + two rounds) near 100 s
    sf = 0.001

    def setup(self) -> None:
        from bench import HEADLINE

        self.keys = list(HEADLINE)
        self._data()
        self._mark("data")
        # untimed warm pass; it also yields the rows the oracle checks
        self._check_registry(self.keys, corrupt=self.ctx.corrupt)
        self._mark("warm")

    def step(self, i: int) -> Op:
        self.spark.catalog.clearCache()
        op = Op("round", 0.0)
        t_round = time.perf_counter()
        for k in self.keys:
            op.parts[k] = self._run_query(k)
        op.seconds = time.perf_counter() - t_round
        return op

    def report(self, ops: list[Op]) -> tuple[dict, dict]:
        per = {k: _p50([o.parts[k] for o in ops]) for k in self.keys}
        rel = sum(v for k, v in per.items() if k.startswith(RELATIONAL))
        pipe = sum(v for k, v in per.items() if k.startswith(PIPELINE))
        round_s = _p50([o.seconds for o in ops])
        qps = len(self.keys) * len(ops) / sum(o.seconds for o in ops)
        named = {
            "analytics.round_s": (round_s, "s", f"median of {len(ops)} rounds"),
            "analytics.relational_s": (rel, "s", "sum of per-query medians"),
            "analytics.pipeline_s": (pipe, "s", "sum of per-query medians"),
            "analytics.queries_per_s": (qps, "1/s", ""),
        }
        return named, {"latency_p50_s": round_s, "throughput_per_s": qps}


# --------------------------------------------------------------- cdc_mirror


class _OrdersShadow:
    """The generator's own model of the ``orders`` mirror."""

    def __init__(self, tab) -> None:
        cols = tab.to_pydict()
        self.rows: dict[int, tuple] = {}
        for r in zip(*(cols[c] for c in ORDER_COLS)):
            self.rows[r[0]] = r
        self.next_key = max(self.rows) + 1
        self.n_cust = max(cols["o_custkey"]) + 1

    def new_row(self, rng: random.Random, key: int) -> tuple:
        day = dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(2404))
        return (
            key, rng.randrange(self.n_cust), rng.choice(datagen.STATUSES),
            round(rng.uniform(1000.0, 500_000.0), 2), day,
            rng.choice(datagen.PRIORITIES),
        )

    def updated(self, rng: random.Random, key: int) -> tuple:
        r = self.rows[key]
        return (r[0], r[1], rng.choice(datagen.STATUSES),
                round(rng.uniform(1000.0, 500_000.0), 2), r[4], r[5])


def _row_bytes(row: tuple) -> int:
    return sum(8 if not isinstance(v, str) else len(v) for v in row)


class CdcMirror(Workload):
    name = "cdc_mirror"
    batch = 200  # 60% U, 20% I, 20% D, one change per key
    # the untimed batch warms the same code paths; its cost is fixed
    # (Spark jobs, codegen), not per change
    warm_batch = 20
    # a run's medians and tail rest on at least three timed batches
    min_ops = 3

    def setup(self) -> None:
        from pyspark.sql import types as T

        tabs = self._data()
        self.eng = self._engine()
        self.shadow = _OrdersShadow(tabs["orders"])
        self._mark("data")
        base = self.spark.read.parquet(f"{self.data_dir}/orders.parquet")
        self.schema = T.StructType(
            list(base.schema.fields) + [T.StructField("__op", T.StringType())]
        )
        self.eng.create_table(
            "orders", source_df=base, primary_key=["o_orderkey"], change_feed=True
        )
        self.eng.create_materialized_view(
            "orders_by_status", "orders", ["o_orderstatus"],
            {"n": ("count", "*"),
             "total": ("sum", "CAST(o_totalprice AS DECIMAL(18,2))")},
        )
        self.export = os.path.join(self.ctx.work, "export_orders")
        self.eng.attach_export("orders", self.export)
        self.version = 0
        self._mark("mirror")
        # one untimed batch: JIT, codegen and the Python workers warm up
        self._fail(self.step(-1).errors)
        self._mark("warm")

    def tables(self) -> list:
        return [self.eng._moontable("orders")]  # noqa: SLF001

    def export_dirs(self) -> list[str]:
        return [self.export]

    def _make_batch(self, size: int) -> tuple[list[tuple], int]:
        rng, sh = self.rng, self.shadow
        n_u, n_d = size * 6 // 10, size * 2 // 10
        n_i = size - n_u - n_d
        keys = rng.sample(sorted(sh.rows), n_u + n_d)
        rows = [sh.updated(rng, k) + ("U",) for k in keys[:n_u]]
        rows += [sh.rows[k] + ("D",) for k in keys[n_u:]]
        for _ in range(n_i):
            rows.append(sh.new_row(rng, sh.next_key) + ("I",))
            sh.next_key += 1
        rng.shuffle(rows)
        probe = rows[0][0] if rows[0][-1] != "D" else keys[0]
        return rows, probe

    def _apply_shadow(self, rows: list[tuple]) -> None:
        for r in rows:
            if r[-1] == "D":
                self.shadow.rows.pop(r[0], None)
            else:
                self.shadow.rows[r[0]] = r[:-1]

    def step(self, i: int) -> Op:
        rows, probe = self._make_batch(self.batch if i >= 0 else self.warm_batch)
        changes = self.spark.createDataFrame(rows, self.schema, verifySchema=False)
        self.version += 1
        sv = self.version
        t0 = time.perf_counter()
        self.eng.apply_changes("orders", changes, source_version=sv)
        t_apply = time.perf_counter() - t0
        self.eng.wait_for_source_version("orders", sv)
        read = self.eng.sql(
            f"SELECT {', '.join(ORDER_COLS)} FROM orders WHERE o_orderkey = {probe}"
        )
        got = read.collect()
        fresh = time.perf_counter() - t0
        self._apply_shadow(rows)
        want = [self.shadow.rows[probe]] if probe in self.shadow.rows else []
        if self.ctx.corrupt:
            want = [want[0][:3] + (-1.0,) + want[0][4:]] if want else [(probe,) * 6]
        op = Op("batch", fresh, {"apply": t_apply, "freshness": fresh},
                change_bytes=sum(map(_row_bytes, rows)),
                frames=[read])
        op.errors = check.compare_rows(
            f"freshness read v{sv}", read.columns, got, ORDER_COLS, want
        )
        return op

    def verify(self) -> None:
        from pg_mooncake_spark.sources.iceberg import read_iceberg

        want = list(self.shadow.rows.values())
        mirror = self.eng.sql(f"SELECT {', '.join(ORDER_COLS)} FROM orders").collect()
        self._fail(check.compare_rows(
            "mirror vs change-log replay", ORDER_COLS, mirror, ORDER_COLS, want
        ))
        groups: dict[str, list] = {}
        for r in mirror:
            g = groups.setdefault(r[2], [0, Decimal("0.00")])
            g[0] += 1
            g[1] += _money(r[3])
        mv = self.eng.materialized_view("orders_by_status")
        self._fail(check.compare_rows(
            "MV vs GROUP BY over the mirror", mv.columns, mv.collect(),
            ["o_orderstatus", "n", "total"],
            [(k, n, s) for k, (n, s) in groups.items()],
        ))
        exp = read_iceberg(self.spark, self.export).select(*ORDER_COLS)
        self._fail(check.compare_rows(
            "Iceberg export vs mirror", ORDER_COLS, exp.collect(), ORDER_COLS, mirror
        ))

    def report(self, ops: list[Op]) -> tuple[dict, dict]:
        apply = [o.parts["apply"] for o in ops]
        fresh = [o.parts["freshness"] for o in ops]
        tv, tp, tn = tail(apply)
        # one writer in a closed loop: a batch of changes per median batch
        cps = self.batch / _p50(fresh)
        named = {
            "cdc.apply_p50_s": (_p50(apply), "s", f"n={len(apply)}"),
            "cdc.apply_tail_s": (tv, "s", f"p{tp:.0f}, n={tn}"),
            "cdc.freshness_p50_s": (_p50(fresh), "s", ""),
            "cdc.changes_per_s": (cps, "1/s",
                                  f"{self.batch} changes / median freshness"),
        }
        return named, {"latency_p50_s": _p50(apply), "throughput_per_s": cps}


# -------------------------------------------------------------- sql_session

# analytic reports a session runs between its statements: registry
# queries over the generated warehouse files (not the mirrors), so this
# gated workload also carries the ``queries`` layer's read path.  A join,
# a grouping-sets aggregate and an event-window query, each among the
# cheapest headline keys (0.3 s warm at sf0.01), so a run stays short.
REPORTS = ("join_semi_customers_with_orders", "agg_grouping_sets",
           "events_tumbling_window")
# the SQL reads of one block; keys and values come from the seed
READ_BLOCK = ("point", "range") + ("point",) * 7 + ("join",) + ("point",) * 8
WRITES = ("update", "insert", "delete")
# fixed statement cycle of three 20-statement blocks, each its reads,
# one single-row write and one report: 48 point reads, 3 range
# aggregates, 3 joins, 3 writes and 3 reports.  Reads fill most of the
# timed region, so a run's read median rests on at least 54 reads.
CYCLE = sum((READ_BLOCK + (w, r) for w, r in zip(WRITES, REPORTS)), ())
READS = ("point", "range", "join")
RANGE_WIDTH, JOIN_WIDTH = 1000, 500


class SqlSession(Workload):
    name = "sql_session"
    # one whole cycle, so every statement kind has a median
    min_ops = len(CYCLE)
    cycle = len(READ_BLOCK) + 2

    def setup(self) -> None:
        from bench import HEADLINE

        assert set(REPORTS) <= set(HEADLINE), "REPORTS must be headline keys"
        tabs = self._data()
        self.eng = self._engine()
        self.shadow = _OrdersShadow(tabs["orders"])
        cust = tabs["customer"].to_pydict()
        self.segment = dict(zip(cust["c_custkey"], cust["c_mktsegment"]))
        self._mark("data")
        for t, pk in (("orders", "o_orderkey"), ("customer", "c_custkey")):
            src = self.spark.read.parquet(f"{self.data_dir}/{t}.parquet")
            self.eng.create_table(t, source_df=src, primary_key=[pk])
        self.max_key = self.shadow.next_key
        self._mark("mirror")
        # the reports read files that never change: their outputs are
        # checked once, on their untimed first run
        self._check_registry(list(REPORTS))
        self._mark("reports")
        # untimed: one block of reads and each kind of write
        for kind in READ_BLOCK + WRITES:
            self._fail(self._statement(kind).errors)
        self._mark("warm")

    def tables(self) -> list:
        return [self.eng._moontable("orders")]  # noqa: SLF001

    def _live_key(self) -> int:
        return self.rng.choice(sorted(self.shadow.rows))

    def _statement(self, kind: str) -> Op:
        if kind in REPORTS:
            return Op(kind, self._run_query(kind))
        rng, sh = self.rng, self.shadow
        want: Optional[tuple] = None
        mutate = None
        if kind == "point":
            k = self._live_key() if rng.random() < 0.8 else rng.randrange(self.max_key)
            q = f"SELECT {', '.join(ORDER_COLS)} FROM orders WHERE o_orderkey = {k}"
            want = (ORDER_COLS, [sh.rows[k]] if k in sh.rows else [])
        elif kind == "range":
            a = rng.randrange(max(1, self.max_key - RANGE_WIDTH))
            q = ("SELECT o_orderstatus, COUNT(*) AS n, "
                 "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM orders "
                 f"WHERE o_orderkey BETWEEN {a} AND {a + RANGE_WIDTH - 1} "
                 "GROUP BY o_orderstatus")
            g: dict[str, list] = {}
            for key in range(a, a + RANGE_WIDTH):
                r = sh.rows.get(key)
                if r is not None:
                    e = g.setdefault(r[2], [0, Decimal("0.00")])
                    e[0] += 1
                    e[1] += _money(r[3])
            want = (["o_orderstatus", "n", "total"],
                    [(s, n, t) for s, (n, t) in g.items()])
        elif kind == "join":
            a = rng.randrange(max(1, self.max_key - JOIN_WIDTH))
            q = ("SELECT c.c_mktsegment, COUNT(*) AS n FROM orders o "
                 "JOIN customer c ON o.o_custkey = c.c_custkey "
                 f"WHERE o.o_orderkey BETWEEN {a} AND {a + JOIN_WIDTH - 1} "
                 "GROUP BY c.c_mktsegment")
            cnt: dict[str, int] = {}
            for key in range(a, a + JOIN_WIDTH):
                r = sh.rows.get(key)
                if r is not None and r[1] in self.segment:
                    s = self.segment[r[1]]
                    cnt[s] = cnt.get(s, 0) + 1
            want = (["c_mktsegment", "n"], list(cnt.items()))
        elif kind == "insert":
            row = sh.new_row(rng, sh.next_key)
            sh.next_key += 1
            q = ("INSERT INTO orders VALUES ("
                 f"{row[0]}, {row[1]}, '{row[2]}', {row[3]}, "
                 f"TIMESTAMP '{row[4]:%Y-%m-%d %H:%M:%S}', '{row[5]}')")
            mutate = (row[0], row)
        elif kind == "update":
            k = self._live_key()
            row = sh.updated(rng, k)
            q = (f"UPDATE orders SET o_orderstatus = '{row[2]}', "
                 f"o_totalprice = {row[3]} WHERE o_orderkey = {k}")
            mutate = (k, row)
        else:
            k = self._live_key()
            q = f"DELETE FROM orders WHERE o_orderkey = {k}"
            mutate = (k, None)
        change_bytes = _row_bytes(mutate[1] or sh.rows[mutate[0]]) if mutate else 0
        t0 = time.perf_counter()
        res = self.eng.sql(q)
        got = res.collect() if want is not None else None
        op = Op(kind, time.perf_counter() - t0)
        if want is not None:
            op.frames.append(res)
            cols, rows = want
            if self.ctx.corrupt and kind == "point":
                rows = rows[1:] if rows else [(0,) * len(cols)]
            op.errors = check.compare_rows(f"{kind} read", res.columns, got, cols, rows)
        else:
            k, row = mutate
            if row is None:
                sh.rows.pop(k, None)
            else:
                sh.rows[k] = row
            op.change_bytes = change_bytes
        return op

    def step(self, i: int) -> Op:
        return self._statement(CYCLE[i % len(CYCLE)])

    def verify(self) -> None:
        got = self.eng.sql(f"SELECT {', '.join(ORDER_COLS)} FROM orders").collect()
        self._fail(check.compare_rows(
            "final mirror vs shadow model", ORDER_COLS, got,
            ORDER_COLS, list(self.shadow.rows.values()),
        ))

    def report(self, ops: list[Op]) -> tuple[dict, dict]:
        reads = [o.seconds for o in ops if o.kind in READS]
        writes = [o.seconds for o in ops if o.kind in WRITES]
        tv, tp, tn = tail(reads)
        # statements per second of a cycle made of each kind's median
        kind_p50 = {k: _p50([o.seconds for o in ops if o.kind == k]) for k in set(CYCLE)}
        sps = len(CYCLE) / sum(kind_p50[k] for k in CYCLE)
        named = {
            "sql.read_p50_s": (_p50(reads), "s", f"n={len(reads)}"),
            "sql.read_tail_s": (tv, "s", f"p{tp:.0f}, n={tn}"),
            "sql.write_p50_s": (_p50(writes), "s", f"n={len(writes)}"),
            "sql.report_s": (sum(kind_p50[k] for k in REPORTS), "s",
                             "sum of per-report medians"),
            "sql.stmts_per_s": (sps, "1/s", "cycle of per-kind medians"),
        }
        return named, {"latency_p50_s": _p50(reads), "throughput_per_s": sps}


WORKLOADS = {w.name: w for w in (Analytics, CdcMirror, SqlSession)}
