"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload retrieve|ingest|batch --seed N \
        --seconds S --trace 0|1 [--sf X]

Run it from the root of a checkout of the repository. It generates its
inputs from ``--seed`` under ``.perfbench/`` in the checkout, starts a
Spark session on ``local[min(nproc, 4)]``, sets up the workload, runs
whole rounds of ops with one client for at least ``--seconds`` seconds
of op time, checks every op's result, and prints as the last stdout
line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run of the same ops that records a span around every call into
a library layer, reads Spark's event log, reports the per-layer metrics
and the tracing overhead, and writes the spans and metrics to
``.perfbench/out/<workload>-seed<N>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUP_REPS = 3
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "ok_ratio": "ratio",
}


def machine_settings() -> dict[str, str]:
    """Environment pinned for every run: cores, heap and the module path
    the Python workers need."""
    cpus = min(len(os.sched_getaffinity(0)), 4)
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    heap_gb = max(1, min(4, total_kb // (1024 * 1024) // 4))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    os.environ.update(machine_settings())
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out", f"{args.workload}-seed{args.seed}")
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "warehouse", "local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # keep every temporary file of the run, the JVMs' included, in run_dir
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    tempfile.tempdir = dirs["tmp"]
    sys.path.insert(0, ROOT)

    import gen
    import workloads
    import tracing as tr

    try:
        wl_cls = workloads.WORKLOADS[args.workload]
        sf = args.sf if args.sf is not None else wl_cls.default_sf
        ds = gen.make_dataset(dirs["data"], sf, args.seed)
        print(f"[perfbench] inputs at sf{sf:g} ready {time.perf_counter() - T_START:.2f}s "
              "after start", file=sys.stderr)

        from hippollm_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "hippollm_spark_perfbench",
            **{
                "spark.sql.warehouse.dir": dirs["warehouse"],
                "spark.local.dir": dirs["local"],
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true" if args.trace else "false",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            result = measure(spark, wl_cls(spark, ds, args.seed), args, session_s, tr)
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            print(f"[perfbench] stop {time.perf_counter() - t:.2f}s", file=sys.stderr)
        if args.trace:
            finish_trace(result, dirs["eventlog"], tr, out_dir)
        return result["report"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(spark, wl, args, session_s, tr) -> dict:
    from workloads import OpRecord

    reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup_rep()
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.setup_final()
    final_s = time.perf_counter() - t
    print(f"[perfbench] session {session_s:.2f}s setup reps {[round(x, 2) for x in reps]} "
          f"final {final_s:.2f}s", file=sys.stderr)

    tracer = None
    if args.trace:
        tracer = tr.Tracer(spark.sparkContext)
        tracer.install()

    records: list[OpRecord] = []
    cpu0 = time.process_time()
    spent = 0.0
    for k, op in enumerate(wl.ops()):
        rec = run_op(op, len(records), tracer)
        records.append(rec)
        spent += rec.wall_s
        wl.after_op(rec)
        # stop at the end of a round once --seconds of op time is spent,
        # so every run times whole rounds of the same op mix
        if (k + 1) % wl.round_len == 0 and spent >= args.seconds:
            break
    driver_cpu_s = time.process_time() - cpu0
    if tracer:
        tracer.uninstall()

    t = time.perf_counter()
    wl.verify(records)
    print(f"[perfbench] verify {time.perf_counter() - t:.2f}s", file=sys.stderr)
    n = len(records)
    ok = sum(1 for x in records if x.ok)
    for x in records:
        if not x.ok:
            print(f"[perfbench] FAILED op {x.op_id} {x.name} {str(x.params)[:200]} "
                  f"error={x.error}", file=sys.stderr)
    summarize(records, file=sys.stderr)
    if wl.round_len > 1:
        rounds = [sum(x.wall_s for x in records[i:i + wl.round_len])
                  for i in range(0, len(records), wl.round_len)]
        print(f"[perfbench] round walls {[round(r, 2) for r in rounds]}", file=sys.stderr)

    report = {"correct": ok == n, "attempted": n, "failed": n - ok, "metrics": {}}
    out = {"report": report, "records": records}
    if not args.trace:
        walls = [x.wall_s for x in records]
        values = {
            "setup_s": session_s + statistics.median(reps) + final_s,
            "ops_per_s": ok / sum(walls),
            "op_p50_ms": statistics.median(walls) * 1000,
            "ok_ratio": ok / n,
        }
        report["metrics"] = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        return out

    sc = spark.sparkContext
    storage = sum(
        i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
    ) / tr.MB
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    out.update(
        tracer=tracer,
        storage_mb_end=storage,
        peak_rss_mb=vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid),
        driver_cpu_s=driver_cpu_s,
        extra=wl.extra(records),
    )
    return out


def run_op(op, op_id: int, tracer):
    """Execute one op: the library call(s) and the consuming action."""
    from workloads import OpRecord

    rec = OpRecord(op_id, op.index, op.name, params=op.params)
    action = [0.0]

    @contextmanager
    def act():
        ta = time.perf_counter()
        try:
            yield
        finally:
            action[0] += time.perf_counter() - ta

    scope = tracer.op(op_id) if tracer else nullcontext()
    ts = time.perf_counter()
    try:
        with scope:
            rec.value = op.run(act)
    except Exception as e:  # counted as a failed op; the loop goes on
        rec.error = f"{type(e).__name__}: {e}"
        traceback.print_exc()
    rec.wall_s = time.perf_counter() - ts
    rec.action_s = action[0]
    rec.rows = rows_of(rec.value)
    return rec


def rows_of(value) -> int:
    """Rows an op's consuming action returned (for scan_rows_per_result)."""
    if value is None:
        return 0
    if isinstance(value, int):
        return value
    if isinstance(value, tuple) and len(value) == 2 and isinstance(value[1], int):
        return value[1]  # (digest, row count)
    if isinstance(value, dict):
        return len(value.get("links", ()))
    return len(value)


def summarize(records, file) -> None:
    by: dict[str, list[float]] = {}
    for x in records:
        by.setdefault(x.name, []).append(x.wall_s * 1000)
    for name, ms in by.items():
        print(f"[perfbench] {name:24s} n={len(ms):3d} p50={statistics.median(ms):9.1f} ms",
              file=file)


def finish_trace(result: dict, eventlog_dir: str, tr, out_dir: str) -> None:
    """Join spans with the event log and fill in the per-layer metrics."""
    records = result["records"]
    tracer = result["tracer"]
    job_group, raw = tr.read_event_log(tr.event_log_files(eventlog_dir))
    # jobs of the timed ops: set-up and verification jobs have no group
    timed = {j: g for j, g in job_group.items() if g.startswith(("s", "op"))}
    values = tr.layer_metrics(tracer.spans, timed)
    sm = tr.spark_metrics(timed, raw)
    wall_ms = sum(x.wall_s for x in records) * 1000
    action_ms = sum(x.action_s for x in records) * 1000
    sm["action_ms"] = action_ms
    sm["storage_mb_end"] = result["storage_mb_end"]
    sm["scan_rows_per_result"] = sm.pop("records_read") / max(sum(x.rows for x in records), 1)
    values.update({f"spark.{k}": v for k, v in sm.items()})
    top_ms = sum((s.end - s.start) * 1000 for s in tracer.spans if s.parent is None)
    values.update({
        "proc.peak_rss_mb": result["peak_rss_mb"],
        "proc.driver_cpu_s": result["driver_cpu_s"],
        "proc.trace_overhead_pct": tracer.overhead_s * 1000 / (wall_ms - tracer.overhead_s * 1000) * 100,
        "proc.span_coverage_pct": (top_ms + action_ms) / wall_ms * 100,
    })
    values.update(result["extra"])
    for name in tr.RATIO_FIELDS:  # 0 where the workload makes no such attempt
        values.setdefault(name, 0.0)
    units = tr.per_layer_units()
    result["report"]["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, "spans.jsonl"))
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump(result["report"], f, indent=1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["retrieve", "ingest", "batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=None, help="scale factor (default per workload)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hippollm_spark")):
        print(f"perfbench: no hippollm_spark package under {ROOT}", file=sys.stderr)
        return 2
    # The JVM and the Python workers inherit fd 1; keep it for the one
    # result line and send everything else to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        report = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    os.write(real_stdout, (json.dumps(report) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
