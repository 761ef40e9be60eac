"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload {flagship_stream,stream_registry,batch_mix}
        --seed N --seconds S --trace {0,1} [--fixture {sf0.01,sf0.001}]

Run from the root of a checkout. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, the per-layer ones with ``--trace 1``.
The line before it (``perfbench-report {...}``) echoes the environment
and every metric the run computed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
RUN_ROOT = os.path.join(CHECKOUT, ".perfbench_run")
OUT_DIR = os.path.join(HERE, "out")
# Left out of the before/after comparison of the checkout: the run's own
# scratch space and trace output, plus what the build tooling owns.
UNWATCHED = {RUN_ROOT, OUT_DIR, os.path.join(CHECKOUT, ".git"),
             os.path.join(CHECKOUT, ".bench_build")}

WORKLOADS = ("flagship_stream", "stream_registry", "batch_mix")
# Fixture each workload runs on unless --fixture says otherwise. The
# registry's streaming jobs cost about the same per trigger at either size
# (state-store count, not data, sets the floor), so they take the small one.
DEFAULT_FIXTURE = {"flagship_stream": "sf0.01", "stream_registry": "sf0.001",
                   "batch_mix": "sf0.01"}

# Reported for reading, not gated: their run-to-run spread on a shared
# 4-core host is too wide for a bound (README), or only some workloads
# define them, or they are run bookkeeping.
REPORT_ONLY = {
    "fresh_ms_p50": "ms", "fresh_ms_p90": "ms", "total_s_median": "s",
    "peak_rss_mb": "MB", "rows_per_s": "rows/s", "open_rows_per_s": "rows/s",
    "trigger_ms_p50": "ms", "trigger_ms_p90": "ms", "backlog_files_max": "files",
    "fail_frac": "ratio", "wrong_results": "count",
    "quiet_runs": "count", "runs": "count",
}


def metric_units(key: str) -> dict[str, str]:
    """Names and units of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json, the one definition of what a run reports."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", choices=("sf0.01", "sf0.001"),
                    help="default: the workload's own (DEFAULT_FIXTURE); "
                         "sf0.001 is the smoke-test size")
    args = ap.parse_args(argv)
    args.fixture = args.fixture or DEFAULT_FIXTURE[args.workload]
    return args


def tree_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file in the checkout outside UNWATCHED."""
    snap = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in UNWATCHED]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def fixture_md5(sf_dir: str) -> str:
    h = hashlib.md5()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def host_control_sec() -> float:
    """Fixed single-core workload (SHA-256 over 512 MiB): its time tracks
    host speed, not the program."""
    buf = b"\x5a" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(8192):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The host-wide cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate(run_dir: str, cpus: int) -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    run's own directory, and size Spark to this host's cpus. Must run
    before rlink_rs_spark.session is imported: it reads SPARK_GRAFT_CPUS
    at import time."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONDONTWRITEBYTECODE": "1",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = None
    sys.dont_write_bytecode = True
    for p in (CHECKOUT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(args, run_dir: str, cpus: int, per_layer: dict[str, str],
                 t_setup: float) -> dict:
    """Run one workload; ``t_setup`` is when set-up began (before isolate
    and the pyspark imports)."""
    import uuid

    import workloads as wl
    from tracing import Tracer

    from rlink_rs_spark.session import get_spark

    sf_dir = os.path.join(HERE, "fixture", args.fixture)
    tracer = Tracer(uuid.uuid4().hex[:12])
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    import rlink_rs_spark.queries  # noqa: F401  (registry import is part of start)
    spark.range(1).collect()
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    run = wl.Run(spark, sf_dir, args.seed, args.seconds, bool(args.trace), tracer, cpus)
    try:
        if args.workload == "flagship_stream":
            ready_s = wl.flagship_stream(run, wl.FLAGSHIP[args.fixture])
        elif args.workload == "stream_registry":
            ready_s = wl.query_workload(run, wl.STREAM_REGISTRY)
        else:
            ready_s = wl.query_workload(run, wl.BATCH_MIX)
        run.metrics["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        run.metrics["setup_s"] = (t0 - t_setup) + session_s + ready_s
        if args.trace:
            run.layers["session.start_s"] = session_s
            for name in per_layer:  # layers a workload does not use read 0
                run.layers.setdefault(name, 0.0)
        env = {"cpus": cpus, "master": spark.sparkContext.master,
               "spark_version": spark.version}
    finally:
        stop_spark(spark)
    if args.trace:
        tracer.write(os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"))
    return {"run": run, "env": env}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, "rlink_rs_spark", "__init__.py")):
        print(f"perfbench: no rlink_rs_spark package under {CHECKOUT}", file=sys.stderr)
        return 2
    end_to_end, per_layer = metric_units("end_to_end"), metric_units("per_layer")
    cpus = len(os.sched_getaffinity(0))
    # Host probe and checkout snapshot come before set-up starts: they are
    # the harness's cost, not the program's start-up.
    control = host_control_sec()
    loadavg = os.getloadavg()
    ticks = cpu_ticks()
    before = tree_snapshot(CHECKOUT)
    os.makedirs(RUN_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUN_ROOT)
    try:
        t_setup = time.perf_counter()
        isolate(run_dir, cpus)
        res = run_workload(args, run_dir, cpus, per_layer, t_setup)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)
        except OSError:
            pass
    # share of cpu time the hypervisor gave to other guests during the run
    spent = [b - a for a, b in zip(ticks, cpu_ticks())]
    steal_frac = spent[7] / max(1, sum(spent))
    run = res["run"]
    after = tree_snapshot(CHECKOUT)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    if changed:
        run.wrong.append(f"checkout changed by the run: {changed[:10]}")
    for w in run.wrong:
        print(f"perfbench: WRONG {w}", file=sys.stderr)

    m = run.metrics
    m["fail_frac"] = run.failed / max(1, run.attempted)
    m["wrong_results"] = len(run.wrong)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fixture": args.fixture,
        "fixture_md5": fixture_md5(os.path.join(HERE, "fixture", args.fixture)),
        "host_control_sec": round(control, 4), "loadavg": loadavg,
        "steal_frac": round(steal_frac, 4), **res["env"],
        "metrics": {k: [v, {**end_to_end, **REPORT_ONLY}.get(k, "")] for k, v in m.items()},
        "layers": {k: [v, per_layer.get(k, "")] for k, v in run.layers.items()},
    }
    print("perfbench-report " + json.dumps(report))
    names = per_layer if args.trace else end_to_end
    values = run.layers if args.trace else m
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
    print(json.dumps({
        "correct": not run.wrong and run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
