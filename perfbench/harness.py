"""Benchmark process: session, one workload, metrics, one JSON line.

Started by ``perfbench/run.py``, which owns the launch environment and
the watchdog; run it through that script, not directly.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Optional

from perfbench import trace as tr
from perfbench.sparkstats import SparkStats, catalyst_phases
from perfbench.workloads import WORKLOADS, Op, Workload

E2E = {  # gated end-to-end metric -> unit (same names for every workload)
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "queries.build_s": "s", "queries.py4j_calls": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.slot_busy_frac": "ratio", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
    "spark.spill_bytes": "B",
    "sql_router.build_s": "s", "sql_router.py4j_calls": "count",
    "storage.merge_s": "s", "storage.write_s": "s",
    "storage.read_build_s": "s", "storage.files_added": "count",
    "storage.files_removed": "count", "storage.live_files": "count",
    "storage.bytes_written_per_change_byte": "ratio",
    "views.refresh_s": "s", "views.jobs": "count",
    "exports.sync_s": "s", "exports.files_added": "count",
    "catalog.update_s": "s",
    "engine.apply_s": "s", "engine.apply_self_s": "s", "engine.dml_s": "s",
    "engine.self_s": "s",
    "queries.self_s": "s", "sql_router.self_s": "s", "storage.self_s": "s",
    "views.self_s": "s", "exports.self_s": "s", "catalog.self_s": "s",
    "session.jvm_peak_rss_mb": "MB", "session.py_peak_rss_mb": "MB",
    "trace.spans": "count", "trace.overhead_s": "s",
}

# raw per-op sums behind storage.bytes_written_per_change_byte
BYTES_ADDED, CHANGE_BYTES = "_bytes_added", "_change_bytes"

# per-layer metric -> span-summary key, where the two names differ
SPAN_KEYS = {
    "queries.py4j_calls": "queries.build.py4j_calls",
    "sql_router.py4j_calls": "sql_router.build.py4j_calls",
    "views.jobs": "views.refresh.jobs",
    "engine.apply_self_s": "engine.apply.self_s",
}


@dataclass
class Ctx:
    spark: Any
    seed: int
    sf: float
    work: str
    tracer: tr.Tracer
    corrupt: bool


def _jvm_peak_rss_mb(spark: Any) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _start_spark(work: str, cores: int):
    from pg_mooncake_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # keep the JVM's files inside the work dir (no /tmp/hsperfdata)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')} "
                "-XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark: Any) -> None:
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _file_snapshot(wl: Workload) -> tuple[dict[str, int], int]:
    """(live data/delete files of the workload's mirrors -> bytes,
    parquet files under its exports)."""
    live: dict[str, int] = {}
    for mt in wl.tables():
        files, dels, _ = mt._snapshot_full(None)  # noqa: SLF001
        for d in files + dels:
            p = os.path.join(mt.data_path, d["name"])
            live[p] = os.path.getsize(p) if os.path.exists(p) else 0
    exported = 0
    for root in wl.export_dirs():
        for _dir, _sub, names in os.walk(root):
            exported += sum(n.endswith(".parquet") for n in names)
    return live, exported


def _op_counts(op: Op, stats: SparkStats, group: str, wl: Workload,
               before, cores: int) -> dict[str, float]:
    """Spark, Catalyst and file counts of one traced operation."""
    out = stats.collect(group)
    out["spark.slot_busy_frac"] = out["spark.executor_run_s"] / (op.seconds * cores)
    for df in op.frames:
        for k, v in catalyst_phases(df).items():
            out[k] = out.get(k, 0.0) + v
    (live0, exported0), (live, exported) = before, _file_snapshot(wl)
    added = set(live) - set(live0)
    out["storage.files_added"] = len(added)
    out["storage.files_removed"] = len(set(live0) - set(live))
    out["storage.live_files"] = len(live)
    out["exports.files_added"] = exported - exported0
    if op.change_bytes:
        out[BYTES_ADDED] = sum(live[p] for p in added)
        out[CHANGE_BYTES] = op.change_bytes
    return out


def run_loop(wl: Workload, ctx: Ctx, seconds: float, trace: bool, cores: int):
    """Closed loop: one operation at a time until the next one would
    overrun the time budget (after at least ``min_ops``).  In a traced run
    whole cycles of operations alternate traced and untraced, so traced
    minus untraced is the tracing overhead."""
    stats = SparkStats(ctx.spark) if trace else None
    sc = ctx.spark.sparkContext
    ops: list[Op] = []
    traced_ops: list[Op] = []
    untraced_ops: list[Op] = []
    per_op: list[dict[str, float]] = []
    min_ops = max(wl.min_ops, 2 * wl.cycle) if trace else wl.min_ops
    loop_t0 = time.perf_counter()
    for i in itertools.count():
        if i >= min_ops:
            elapsed = time.perf_counter() - loop_t0
            if elapsed + statistics.mean(o.seconds for o in ops) > seconds:
                break
        traced = trace and (i // wl.cycle) % 2 == 1
        if traced:
            group = f"perfbench-{wl.name}-{i}"
            sc.setJobGroup(group, f"perfbench {wl.name} op {i}")
            before = _file_snapshot(wl)
            ctx.tracer.op = i
            ctx.tracer.job_count = lambda g=group: len(stats.job_ids(g))
            ctx.tracer.enabled = True
        try:
            op = wl.step(i)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            op = None
            wl._fail([f"{wl.name} op {i}: {type(e).__name__}: {str(e)[:300]}"])
        finally:
            ctx.tracer.enabled = False
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if op is None:
            if wl.failed > 3 and not ops:
                break
            continue
        wl._fail(op.errors)
        ops.append(op)
        if traced:
            per_op.append(
                _op_counts(op, stats, group, wl, before, cores)
            )
            traced_ops.append(op)
        elif trace:
            untraced_ops.append(op)
        op.frames = []
    return ops, traced_ops, untraced_ops, per_op


def layer_metrics(ctx: Ctx, traced: list[Op], untraced: list[Op],
                  per_op: list[dict[str, float]]) -> dict[str, float]:
    n = max(len(traced), 1)
    spans = tr.summarize(ctx.tracer.spans, n)
    out = {m: spans.get(SPAN_KEYS.get(m, m), 0.0) for m in PER_LAYER}
    written = {BYTES_ADDED: 0.0, CHANGE_BYTES: 0.0}
    for extra in per_op:
        for k, v in extra.items():
            if k in written:
                written[k] += v
            else:
                out[k] += v / n
    # bytes of new files over bytes of changes, over the writing ops only
    if written[CHANGE_BYTES]:
        out["storage.bytes_written_per_change_byte"] = (
            written[BYTES_ADDED] / written[CHANGE_BYTES]
        )
    out["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(ctx.spark)
    out["session.py_peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    )
    out["trace.spans"] = len(ctx.tracer.spans) / n
    if traced and untraced:
        out["trace.overhead_s"] = (
            statistics.median(o.seconds for o in traced)
            - statistics.median(o.seconds for o in untraced)
        )
    return out


def _print_table(title: str, rows: list[tuple[str, float, str, str]]) -> None:
    print(title)
    for name, value, unit, note in rows:
        print(f"  {name:<40} {value:>14.6g} {unit:<6} {note}")


def print_layers(ctx: Ctx, layers: dict[str, float], n: int) -> None:
    spans = tr.summarize(ctx.tracer.spans, n)
    rows = []
    for layer in sorted({tr.layer_of(s.name) for s in ctx.tracer.spans}):
        count = sum(v for k, v in spans.items()
                    if k.endswith(".count") and tr.layer_of(k) == layer)
        rows.append((f"{layer}.self_s", spans.get(f"{layer}.self_s", 0.0), "s",
                     f"{count:g} spans/op"))
    _print_table(f"layer self time per traced op ({n} traced ops)", rows)
    _print_table("per-layer metrics (per traced op)", [
        (k, v, PER_LAYER[k], "") for k, v in layers.items()
    ])


def main(argv: Optional[list[str]] = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--corrupt", action="store_true",
                    help="falsify one checked result (tests the checks)")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    t_launch = float(os.environ.get("PERFBENCH_T0", time.time()))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = _start_spark(args.work, cores)
    tracer = tr.Tracer()
    ctx = Ctx(spark, args.seed, args.sf or WORKLOADS[args.workload].sf,
              args.work, tracer, args.corrupt)
    if args.trace:
        tr.install(tracer)
        tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
    t_spark = time.time() - t_launch
    wl = WORKLOADS[args.workload](ctx)
    ops: list[Op] = []
    phases: dict[str, float] = {}
    try:
        wl.setup()
        setup_s = time.time() - t_launch
        t0 = time.perf_counter()
        ops, traced, untraced, per_op = run_loop(
            wl, ctx, args.seconds, bool(args.trace), cores
        )
        t1 = time.perf_counter()
        wl.verify()
        phases = {"setup": setup_s, "jvm": t_spark,
                  **{f"setup.{k}": v for k, v in wl.setup_phases.items()},
                  "timed loop": t1 - t0,
                  "verify": time.perf_counter() - t1}
    except Exception as e:  # noqa: BLE001 - reported as a failed run
        traceback.print_exc()
        wl._fail([f"{wl.name}: {type(e).__name__}: {str(e)[:500]}"])
    layers: dict[str, float] = {}
    if ops and args.trace:
        layers = layer_metrics(ctx, traced, untraced, per_op)
        print_layers(ctx, layers, len(traced))
        os.makedirs(args.out, exist_ok=True)
        with open(os.path.join(
            args.out, f"trace-{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed,
                       "spans": tracer.to_json()}, f)
    t2 = time.perf_counter()
    _stop_spark(spark)
    shutil.rmtree(args.work, ignore_errors=True)
    phases["teardown"] = time.perf_counter() - t2

    for err in wl.errors[:20]:
        print(f"MISMATCH {err}", file=sys.stderr)
    print(f"{wl.name}: failed {wl.failed} / attempted {wl.attempted}")
    if not ops:
        print(f"{wl.name}: no operation completed", file=sys.stderr)
        return 1
    named, gated = wl.report(ops)
    gated["setup_s"] = setup_s
    _print_table(f"{wl.name} end-to-end ({len(ops)} timed ops)", [
        ("setup_s", setup_s, "s", "launch to end of warm pass"),
        *[(k, v, u, note) for k, (v, u, note) in named.items()],
    ])
    print("  op seconds: " + " ".join(f"{o.kind}={o.seconds:.3f}" for o in ops))
    print("  phase seconds: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": gated[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0 if wl.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
