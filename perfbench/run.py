"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The run generates its
inputs from the seed under ``.perfbench_work/`` in the checkout, starts one
Spark driver on ``local[N]`` with N half the cores, sets up (session starts
plus one warm-up job), then runs checked jobs back to back for ``S``
seconds and at least ``MIN_TIMED_JOBS`` jobs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the span wrappers are installed after
the warm-up and the metrics are per-layer ones from the traced jobs
(spans go to ``.perfbench_out/``). The line before it states the inputs
and the environment.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

import workloads
from workloads import MIX

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SESSION_STARTS = 3
MIN_TIMED_JOBS = 2
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "load_s": "s",
    "resync_s": "s",
    "epoch_s": "s",
}

# span name -> the fields reported for it
SPAN_FIELDS = {
    "cli.run_stops_map": ("s", "jobs", "tasks", "self_s"),
    "sources.zip_ingest.read_stops_from_zips": ("s", "jobs"),
    "plans.stops_sync.sync_stops": ("s", "jobs"),
    "sinks.LocalParquetSink.write": ("s", "jobs", "tasks"),
    "plans.run_log.run_summary": ("s", "jobs"),
    "plans.corpus_release.build_release": ("s", "jobs"),
    "operators.graph.connected_components": ("s", "jobs"),
    "streaming.stateful.stage_time_sliced": ("s", "jobs"),
    "streaming.event_windows.run_available_now_to_memory": ("s",),
    "run": ("jobs", "stages", "tasks"),
}
FIELD_UNITS = {"s": "s", "self_s": "s", "jobs": "count", "stages": "count",
               "tasks": "count"}

PER_LAYER = {
    "session.get_spark.s": "s",
    "peak_rss_mb": "MB",
    **{f"{span}.{f}": FIELD_UNITS[f] for span, fs in SPAN_FIELDS.items() for f in fs},
    "sources.zip_ingest.exec_s": "s",
    "sources.zip_ingest.scan_amplification": "ratio",
    "operators.validation.exec_s": "s",
    "operators.merge.exec_s": "s",
    "streaming.epoch.add_batch_ms": "ms",
    "streaming.epoch.query_planning_ms": "ms",
    "streaming.epoch.wal_commit_ms": "ms",
    "streaming.stateful.state_update_ms": "ms",
    "streaming.stateful.state_commit_ms": "ms",
    "streaming.stateful.state_rows": "count",
    "streaming.stateful.state_mem_bytes": "bytes",
    "streaming.stateful.state_partitions": "count",
    **{f"queries.{q}.{f}": u for q in MIX
       for f, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "error_rate": "ratio",
    # the traced run's own job/load/resync/epoch medians: minus the untraced
    # run's end-to-end values, they are the tracing overhead
    "trace.job_s": "s",
    "trace.load_s": "s",
    "trace.resync_s": "s",
    "trace.epoch_s": "s",
}


def spark_cores(nproc: int) -> int:
    """Task slots for ``local[N]``: half the cores. The driver JVM's own
    threads (planner, JIT, GC), the Python driver and the Python workers
    need the rest; with ``local[nproc]`` they oversubscribe the box, and a
    job's time then follows the load of whatever else shares it."""
    return max(1, nproc // 2)


def pin_environment(work: Path, cores: int) -> None:
    """Everything Spark writes stays in ``work``; Spark's Python workers
    import the engine from this checkout; the core count is explicit."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell")


def process_tree(root: int) -> dict[int, int]:
    """RSS in KiB of ``root`` and of each of its live descendants, by pid."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as fh:
                rss[int(d)] = int(fh.read().split()[1]) * page_kb
        except (OSError, IndexError, ValueError):  # the process just ended
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in rss:
            tree[p] = rss[p]
        todo += children.get(p, [])
    return tree


class RssSampler:
    """Peak summed RSS of a process and all its descendants (the driver JVM
    and the Python workers it forks), sampled every 0.1 s."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.peak_kb = max(self.peak_kb, sum(process_tree(self.pid).values()))

    def __enter__(self):
        self.peak_kb = sum(process_tree(self.pid).values())
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def timed_jobs(wl, spark, ledger, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: run jobs until ``seconds`` have passed and at least
    ``MIN_TIMED_JOBS`` have run.
    Traced jobs also carry their span summary and layer samples."""
    out, end = [], time.perf_counter() + seconds
    while True:
        if tracer is None:
            out.append(wl.job(spark, ledger, None))
        else:
            first = len(tracer.spans)
            with tracer.span("run"):
                s = wl.job(spark, ledger, tracer)
            s["spans"] = tracer.summarize(first)
            s["layers"] = wl.layer_samples()
            out.append(s)
        if time.perf_counter() >= end and len(out) >= MIN_TIMED_JOBS:
            return out


def pooled(samples: list[dict], key: str) -> list[float]:
    return [v for s in samples for v in s.get(key, [])]


def layer_metrics(traced: list[dict], get_spark_s: float, peak_rss_mb: float,
                  ledger) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.get_spark.s"] = get_spark_s
    m["peak_rss_mb"] = peak_rss_mb
    m["error_rate"] = ledger.error_rate
    for span, fields in SPAN_FIELDS.items():
        for f in fields:
            m[f"{span}.{f}"] = median(
                [s["spans"].get(span, {}).get(f, 0) for s in traced])
    for q in MIX:
        b, e = f"queries.{q}.build", f"queries.{q}.exec"
        m[f"queries.{q}.build_s"] = median([s["spans"].get(b, {}).get("s", 0) for s in traced])
        m[f"queries.{q}.exec_s"] = median([s["spans"].get(e, {}).get("s", 0) for s in traced])
        m[f"queries.{q}.jobs"] = median(
            [s["spans"].get(b, {}).get("jobs", 0) + s["spans"].get(e, {}).get("jobs", 0)
             for s in traced])
    pooled_layers: dict[str, list[float]] = {}
    for s in traced:
        for k, v in s["layers"].items():
            pooled_layers.setdefault(k, []).extend(v)
    for k, v in pooled_layers.items():
        m[k] = median(v)
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers it
    forked, and wait until all of them have ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = [p for p in process_tree(proc.pid) if p != proc.pid]
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the workers are not our children: poll until they are gone
    deadline = time.monotonic() + 10
    for p in workers:
        while os.path.exists(f"/proc/{p}"):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
                break
            time.sleep(0.05)


def bench(args, work: Path, nproc: int) -> tuple[dict, dict]:
    import pyspark

    from ntd_gtfs_to_socrata_spark.session import get_spark

    phases = {"start": time.perf_counter()}
    wl = workloads.WORKLOADS[args.workload](str(work))
    wl.generate(args.seed)
    phases["generate"] = time.perf_counter()
    ledger = workloads.Ledger()

    spark, starts = None, []
    try:
        for _ in range(SESSION_STARTS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", cpus=spark_cores(nproc))
            starts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup(spark, ledger)
        setup_s = median(starts) + time.perf_counter() - t0
        phases["setup"] = time.perf_counter()

        tracer = rss = None
        if args.trace:
            from pyspark import SparkContext

            import spans

            tracer = spans.Tracer(spark)
            wl.install(tracer)
            rss = RssSampler(SparkContext._gateway.proc.pid)
        try:
            with rss or contextlib.nullcontext():
                jobs = timed_jobs(wl, spark, ledger, args.seconds, tracer)
        finally:
            if tracer:
                tracer.restore()
        phases["timed"] = time.perf_counter()
        times = {k: median(pooled(jobs, k)) for k in ("job", "load", "resync", "epoch")}
        if tracer:
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.json"))
            values = layer_metrics(jobs, median(starts), rss.peak_kb / 1024, ledger)
            values.update({f"trace.{k}_s": v for k, v in times.items()})
            units = PER_LAYER
        else:
            values = {"setup_s": setup_s, **{f"{k}_s": v for k, v in times.items()}}
            units = END_TO_END
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inputs": wl.stated,
            "job_s_samples": pooled(jobs, "job"), "session_starts_s": starts,
            "env": {"nproc": nproc, "spark_cores": spark_cores(nproc),
                    "driver_memory": DRIVER_MEM,
                    "pyspark": pyspark.__version__,
                    "java": spark._jvm.System.getProperty("java.version"),
                    "python": sys.version.split()[0]},
            "errors": ledger.errors[:5],
        }
    finally:
        if spark is not None:
            stop_spark(spark)
    phases["stop"] = time.perf_counter()
    names = list(phases)
    info["phase_s"] = {b: round(phases[b] - phases[a], 2) for a, b in zip(names, names[1:])}
    result = {
        "correct": ledger.failed == 0 and ledger.attempted > 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return info, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ntd_gtfs_to_socrata_spark" / "__init__.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    pin_environment(work, spark_cores(nproc))
    sys.path.insert(0, str(ROOT))
    try:
        info, result = bench(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            work.parent.rmdir()
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
