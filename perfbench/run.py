"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N [--seconds S] [--trace 0|1]

Runs from the root of a checkout. Each workload runs in a fresh worker
process (``worker.py``) with a cold session, a run directory of its
own under ``.perfbench_work/`` and an input directory whose basename is
unique to (workload, seed, process), so nothing the engine persists
under ``.scratch/`` can be reused across runs or seeds; the artifacts
this run created are removed before and after it.

Prints one line per metric (``name = value unit``), a machine-state stamp,
and as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Full results (every op, and the spans of a traced run)
go to ``.perfbench_results/<workload>_s<seed>_t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "e_commerce_data_warehouse_power_bi_analytics_dashboard_spark"
#: runnable workloads: the two mixes ``BENCHMARK.json`` lists, and each
#: op group on its own (see workloads.py)
WORKLOADS = ("read_mix", "write_mix", "dashboard_mix", "etl_ingest", "table_dml", "llm_dedup")
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(ROOT, ".perfbench_results")
SCRATCH = os.path.join(ROOT, ".scratch")
WORKER_TIMEOUT_S = 170

#: which end-to-end figure each per-layer metric should move, and where
LAYER_TARGETS = {
    "session.": "setup_s on every workload",
    "sources.star_load_s": "setup_s on read_mix",
    "sources.staging_read_ms": "ops_per_s, etl_ingest.rows_per_s on write_mix",
    "plans.": "op_p50_ms, ops_per_s on read_mix",
    "measures.": "op_p50_ms on read_mix",
    "cleaning.": "etl_ingest.rows_per_s, etl_ingest.commit_p50_ms, write_amp on write_mix",
    "etl.": "etl_ingest.rows_per_s, etl_ingest.commit_p50_ms, write_amp on write_mix",
    "table_format.": "table_dml commit/query p50, write_amp, space_amp, ops_per_s on write_mix",
    "dedup.": "llm_dedup.query_p50_ms, ops_per_s on read_mix",
    "similarity.kmeans_fit_s": "setup_s on read_mix",
    "similarity.": "llm_dedup.query_p50_ms, llm_dedup.recall_at_k on read_mix",
    "spark.failed_tasks": "failed on every workload",
    "spark.": "op_p50_ms on read_mix",
    "jvm.": "op_tail_ms, peak_rss_mb on every workload",
}


def layer_target(name: str) -> str:
    return next(v for k, v in LAYER_TARGETS.items() if name.startswith(k))


#: units of the printed figures that BENCHMARK.json does not list, by
#: name suffix (first match wins)
SUFFIX_UNITS = (
    ("rows_per_s", "rows/s"), ("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
    ("_mb", "MB"), ("_amp", "bytes/byte"), ("_pct", "%"), ("_n", "count"),
    ("recall_at_k", "ratio"), ("_recall", "ratio"), ("_ratio", "ratio"),
)


def unit_of(name: str, spec_units: dict[str, str]) -> str:
    if name in spec_units:
        return spec_units[name]
    return next((u for suffix, u in SUFFIX_UNITS if name.endswith(suffix)), "")


sys.path.insert(0, HERE)
from common import cpu_ticks, machine_state, median, steal_pct, tail  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def artifacts(token: str) -> list[str]:
    """Paths under the engine's ``.scratch/`` named after ``token``."""
    found = []
    for dirpath, dirs, files in os.walk(SCRATCH):
        for name in dirs + files:
            if token in name:
                found.append(os.path.join(dirpath, name))
        dirs[:] = [d for d in dirs if token not in d]
    return found


def remove(paths: list[str]) -> None:
    for p in paths:
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.lexists(p):
            os.remove(p)


def _group_alive(pgid: int) -> bool:
    """Is any process of group ``pgid`` still running? A zombie has
    ended; only its exit status is left for its parent to collect."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's group and wait until each
    has ended. The worker has already stopped its Spark session and
    written its result, so what remains (the exiting JVM) is killed."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + 30
    while _group_alive(pgid):
        if time.time() > end:
            raise SystemExit(f"processes of group {pgid} still running after SIGKILL")
        time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: float, trace: int) -> dict:
    token = f"pb_{workload}_s{seed}_p{os.getpid()}"
    run_dir = os.path.join(WORK, token)
    scratch_existed = os.path.isdir(SCRATCH)
    remove(artifacts(token) + [run_dir])
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    before = machine_state()
    ticks = cpu_ticks()
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--run-dir", run_dir, "--data-name", token,
         "--t0", repr(t0)],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    exited = time.time() - t0
    stop_group(proc.pid)
    if code is None:
        proc.wait()
    stopped = time.time() - t0
    after = machine_state()
    after["cpu_steal_pct_during_run"] = round(steal_pct(ticks, cpu_ticks()), 2)
    result = None
    path = os.path.join(run_dir, "result.json")
    if code == 0 and os.path.exists(path):
        with open(path) as f:
            result = json.load(f)
    remove(artifacts(token) + [run_dir])
    if not scratch_existed and os.path.isdir(SCRATCH):
        for dirpath, _, _ in sorted(os.walk(SCRATCH), reverse=True):
            if not os.listdir(dirpath):
                os.rmdir(dirpath)
    if os.path.isdir(WORK) and not os.listdir(WORK):
        os.rmdir(WORK)
    if result is None:
        raise SystemExit(
            f"{workload}: worker exited with {'timeout' if code is None else code}"
        )
    result["machine"] = {"start": before, "end": after}
    result["phases"].update(worker_exit=exited, group_stopped=stopped,
                            cleaned=time.time() - t0)
    return result


def end_to_end(res: dict) -> dict:
    """Every end-to-end figure this workload can report (untraced).
    Rates divide by the time spent inside operations: the closed-loop
    client's own work between them (drawing batches, checking outputs)
    is not the system's."""
    ops = res["ops"]
    busy_s = sum(o["ms"] for o in ops) / 1000.0
    out = {
        "setup_s": res["setup_s"],
        "ops_per_s": len(ops) / busy_s,
        "op_p50_ms": median([o["ms"] for o in ops]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    t = tail([o["ms"] for o in ops])
    if t:
        out["op_tail_ms"], out["op_tail_pct"], out["op_tail_n"] = t[0], round(t[1], 1), t[2]
    for group in sorted({o["group"] for o in ops}):
        for cls in ("query", "commit"):
            ms = [o["ms"] for o in ops if o["cls"] == cls and o["group"] == group]
            if ms:
                out[f"{group}.{cls}_p50_ms"] = median(ms)
                out[f"{group}.{cls}_n"] = len(ms)
                t = tail(ms)
                if t:
                    out[f"{group}.{cls}_tail_ms"] = t[0]
                    out[f"{group}.{cls}_tail_pct"] = round(t[1], 1)
    for group in sorted({o["group"] for o in ops}):
        rows = sum(o["rows"] for o in ops if o["group"] == group)
        if rows:
            out[f"{group}.rows_per_s"] = rows / busy_s
    out.update(res["counters"])
    attempted, failed = outcome(res)
    out["failed_ratio"] = failed / attempted
    return out


def per_layer(res: dict) -> dict:
    ops = res["ops"]
    n = max(1, len(ops))
    session = [s for s in res["spans"] if s["name"] == "session.start"]
    out = {
        "session.start_s": session[0]["end"] - session[0]["start"],
        "spark.jobs_per_op": sum(o["counters"]["jobs"] for o in ops) / n,
        "spark.stages_per_op": sum(o["counters"]["stages"] for o in ops) / n,
        "spark.tasks_per_op": sum(o["counters"]["tasks"] for o in ops) / n,
        "spark.failed_tasks": sum(o["counters"]["failed_tasks"] for o in ops),
        "jvm.gc_ms_per_op": sum(o["counters"]["gc_ms"] for o in ops) / n,
        "jvm.heap_used_peak_mb": max((o["counters"]["heap_mb"] for o in ops), default=0.0),
    }
    out.update(res["layers"])
    return out


def outcome(res: dict) -> tuple[int, int]:
    """(attempted, failed): timed operations plus the untimed checks made
    outside them; an operation fails when it raised or its output was
    wrong, a check when its output was wrong."""
    ops = res["ops"]
    failed_ops = sum(1 for o in ops if not o["ok"])
    return len(ops) + res["checks"], failed_ops + len(res["check_failures"])


def report(workload: str, res: dict, trace: int, names: list[dict]) -> dict:
    figures = per_layer(res) if trace else end_to_end(res)
    units = {m["name"]: m["unit"] for m in names}
    print(f"== {workload} seed={res['seed']} trace={trace}")
    for k, v in figures.items():
        line = f"  {k} = {v} {unit_of(k, units)}".rstrip()
        print(line + (f"    -> {layer_target(k)}" if trace else ""))
    print(f"  wall_s = {res['wall_s']} s")
    print(f"  machine = {json.dumps(res['machine'])}")
    print(f"  sizes = {json.dumps(res['sizes'])}")
    for f in res["op_failures"] + res["check_failures"]:
        print(f"  FAILED {f}")
    if trace:
        base = os.path.join(RESULTS, f"{workload}_s{res['seed']}_t0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = end_to_end(json.load(f))
            traced = end_to_end(res)
            for k in ("setup_s", "ops_per_s", "op_p50_ms"):
                print(f"  tracing_overhead.{k} = {traced[k] / untraced[k]:.3f} "
                      f"(traced {traced[k]:.4g} / untraced {untraced[k]:.4g})")
    metrics = {}
    for m in names:
        v = figures.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics


def main() -> int:
    sp = spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=sp["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    names = sp["per_layer"] if args.trace else sp["end_to_end"]
    workloads = (
        [w["name"] for w in sp["workloads"]] if args.workload == "all" else [args.workload]
    )
    metrics, attempted, failed = {}, 0, 0
    os.makedirs(RESULTS, exist_ok=True)
    for wl in workloads:
        t_run = time.time()
        res = run_worker(wl, args.seed, args.seconds, args.trace)
        res["wall_s"] = time.time() - t_run
        with open(os.path.join(RESULTS, f"{wl}_s{args.seed}_t{args.trace}.json"), "w") as f:
            json.dump(res, f)
        m = report(wl, res, args.trace, names)
        a, fl = outcome(res)
        attempted += a
        failed += fl
        if args.workload == "all":
            m = {f"{wl}.{k}": v for k, v in m.items()}
        metrics.update(m)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
