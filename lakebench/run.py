"""Run one lakehouse benchmark workload and print its metrics.

    python3 lakebench/run.py --workload refresh_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run pins its own environment
(``SPARK_GRAFT_CPUS`` = the CPUs this process may use, a driver heap that
fits the machine, Spark local dirs and temp files inside a fresh run
directory under ``.lakebench/``), builds the workload's initial state
(``setup_s``), then times a fixed number of whole units of work -- refresh
cycles or passes over the query mix -- sized so that they last about
``--seconds`` (``unit_s`` per workload, measured on a 4-core machine; at
least one), checks the results against the benchmark's reference model
(and DuckDB for the catalog queries), and removes the run directory.  One
process, one client thread, closed loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions from outside the package, prints the per-layer
metrics and writes the spans to ``.lakebench/traces/``.  The last stdout
line is the result object; the line before it records the run's
environment and load marker (loadavg and steal, from ``bench.py``).
Exits 2 without a result when the program cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(run_dir: Path) -> dict:
    """Environment for the program and its JVM, all of it inside run_dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 6))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    time.tzset()
    return env


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return kids + [g for k in kids for g in _children(k)]


def _peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every process it started."""
    total_kb = 0
    for pid in [os.getpid()] + _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def _cpu_seconds() -> float:
    """User + system CPU time of this process and every process it started."""
    total = 0
    for pid in [os.getpid()] + _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def _inodes(root: Path) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every file under root (hard links once)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def _stop(spark) -> None:
    """Stop Spark, close the gateway JVM and wait until it and every process
    it started (Python workers) have exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _children(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import bench
        from end_to_end_azure_databricks_data_engineering_project_spark import session
    except ImportError as exc:
        print(f"lakebench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from lakebench import layers, report
    from lakebench.trace import Tracer
    from lakebench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r} (one of {', '.join(WORKLOADS)})",
              file=sys.stderr)
        return 2
    load_before = bench._load_marker()
    run_dir = ROOT / ".lakebench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = _pin_environment(run_dir)
    os.chdir(run_dir)
    tracer = None
    if args.trace:
        tracer = Tracer()
        layers.install(tracer)
    spark = None
    try:
        spark = session.get_spark("lakebench")
        if tracer:
            tracer.sc = spark.sparkContext
        ctx = Ctx(spark, run_dir, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        # a fixed number of whole units, sized so the timed phase lasts about
        # --seconds on the reference machine: both sides of a comparison then
        # do the same work and their statistics rest on the same sample count
        units = max(1, round(args.seconds / wl.unit_s))
        wl.setup(units)
        setup_s = time.perf_counter() - T_START
        files_before = _inodes(wl.data_root)
        bytes_before = ctx.source_bytes
        if tracer:  # per-layer counts cover the timed phase only
            tracer.counts.clear()
            tracer.overhead_s = 0.0
        timed_from = len(tracer.spans) if tracer else 0

        ops = []
        cpu0 = _cpu_seconds()
        for _ in range(units):
            ops += wl.run_unit()
        timed_cpu_s = _cpu_seconds() - cpu0
        overhead_s = tracer.overhead_s if tracer else 0.0
        peak_rss_mb = _peak_rss_mb()
        files_after = _inodes(wl.data_root)
        shape = layers.warehouse_shape(wl.warehouse)
        try:
            correct, detail = wl.check()
        except Exception:  # noqa: BLE001 — a check that cannot run is a failed check
            correct, detail = False, traceback.format_exc(limit=3)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    written = sum(size for k, size in files_after.items() if k not in files_before)
    timed_source_bytes = ctx.source_bytes - bytes_before
    good = [o for o in ops if o.ok] or ops
    secs = [o.seconds for o in good]
    if args.trace:
        extra = dict(shape, overhead_s=overhead_s,
                     write_amp=written / timed_source_bytes if timed_source_bytes else 0.0)
        values = report.per_layer(tracer.spans, timed_from, tracer.counts, good, units, extra, list(bench.HEADLINE))
        names = report.per_layer_names(list(bench.HEADLINE))
        tracer.dump(ROOT / ".lakebench" / "traces" / f"{args.workload}-{args.seed}.jsonl")
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(secs),
            "op_tail_s": report.tail(secs),
            "rows_per_s": sum(o.rows_in for o in good) / sum(secs),
            "storage_amp": sum(files_after.values()) / ctx.source_bytes,
            "peak_rss_mb": peak_rss_mb,
        }
        names = report.END_TO_END

    failed = sum(1 for o in ops if not o.ok)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "units": units, "ops": len(ops), "setup_s": setup_s,
        "op_seconds": [round(o.seconds, 3) for o in ops], "timed_cpu_s": timed_cpu_s,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "load_before": load_before, "load_after": bench._load_marker(),
        "check": detail or "ok",
    }
    print(json.dumps(info), flush=True)
    result = {
        "correct": bool(correct),
        "attempted": len(ops),
        "failed": failed if correct else len(ops),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
