"""One workload in one fresh process: session start, seeded setup, the
closed-loop timed phase, untimed output checks, and a result file.

Run by ``run.py``, which owns the run directory, the environment and
the clean-up; this process only reads and writes below ``--run-dir``
(plus whatever the engine itself persists under the checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
#: the timed phase runs at least this many whole cycles (and at least
#: ``--seconds``), so a slow machine still times the same mix of work
MIN_CYCLES = 2
sys.path.insert(0, os.path.dirname(HERE))

from common import OpRecord, SparkCounters, Tracer, proc_tree_hwm_mb  # noqa: E402


class Ctx:
    """What a workload gets: the session, the tracer, the seed and its
    private directories. ``data_dir`` has a basename unique to this
    (workload, seed, process), so no artifact the engine keys by that
    basename can be shared with another run."""

    def __init__(self, args, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.data_dir = os.path.join(args.run_dir, "data", args.data_name)
        self.out_dir = os.path.join(args.run_dir, "out")
        self.check_failures: list[str] = []
        self.n_checks = 0
        self.counters: dict[str, float] = {}
        self.sizes: dict[str, dict] = {}
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """An untimed output check outside the timed operations."""
        self.n_checks += 1
        if not ok:
            self.check_failures.append(f"{name}: {detail}")
        return ok


def run(args) -> dict:
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    t_session = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    session_s = time.perf_counter() - t_session
    phases = {"session_end": time.time() - args.t0}
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(args, spark, tracer)
    import workloads

    wl = workloads.build(args.workload, ctx)
    wl.setup()
    phases["setup_end"] = time.time() - args.t0

    counters = SparkCounters(spark) if args.trace else None
    records: list[OpRecord] = []
    op_failures: list[str] = []
    first_op_wall = None
    t_loop = time.perf_counter()
    deadline = t_loop + args.seconds
    k = 0
    while True:
        for op in wl.cycle(k):
            i = len(records)
            group = f"perfbench-op-{i}"
            spark.sparkContext.setJobGroup(group, op.kind)
            if op.prepare is not None:
                op.prepare()
            tracer.op_id = i
            gc0 = counters.gc_ms() if counters else 0.0
            if first_op_wall is None:
                first_op_wall = time.time()
            t0 = time.perf_counter()
            ok = True
            try:
                with tracer.span(op.kind):
                    out = op.fn()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc()
                op_failures.append(f"{op.kind}#{i}: raised {e!r}"[:500])
                ok, out = False, None
            ms = 1000.0 * (time.perf_counter() - t0)
            tracer.op_id = None
            if ok and op.check is not None:
                try:
                    rows = op.check(out)
                    if rows is not None:
                        out = rows
                except Exception as e:  # noqa: BLE001 - a wrong output is a failed op
                    op_failures.append(f"{op.kind}#{i}: {e}")
                    ok = False
            rec = OpRecord(op.group, op.kind, op.cls, ms, int(out or 0) if ok else 0, ok)
            if counters:
                rec.counters = counters.group(group)
                rec.counters["gc_ms"] = counters.gc_ms() - gc0
                rec.counters["heap_mb"] = counters.heap_used_mb()
            records.append(rec)
        k += 1
        if k >= MIN_CYCLES and time.perf_counter() >= deadline:
            break
    elapsed = time.perf_counter() - t_loop
    phases["loop_end"] = time.time() - args.t0

    try:
        wl.finish()
    except Exception as e:  # noqa: BLE001 - a failed final check fails the run's output
        traceback.print_exc()
        ctx.check_failures.append(f"finish: {e}")
    phases["finish_end"] = time.time() - args.t0
    peak_rss = proc_tree_hwm_mb(os.getpid())
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": first_op_wall - args.t0,
        "session_s": session_s,
        "elapsed_s": elapsed,
        "peak_rss_mb": peak_rss,
        "ops": [r.__dict__ for r in records],
        "op_failures": op_failures,
        "check_failures": ctx.check_failures,
        "checks": ctx.n_checks,
        "counters": ctx.counters,
        "sizes": ctx.sizes,
        "phases": phases,
    }
    if args.trace:
        result["spans"] = tracer.spans
        result["layers"] = wl.layer_metrics()
    gateway = spark.sparkContext._gateway
    spark.stop()
    # the session is stopped: close the Python side of the gateway (so no
    # finalizer talks to a dead JVM), end the JVM and collect its exit
    # status, so no orphaned JVM outlives this process
    gateway.shutdown()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.kill()
        jvm.wait()
    phases["stop_end"] = time.time() - args.t0
    return result


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--data-name", required=True)
    p.add_argument("--t0", type=float, required=True)
    args = p.parse_args()
    result = run(args)
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
