"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|dashboard|stream_state|curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Every file a run makes (fixture tables,
ingest source, checkpoint and output, Spark scratch, the package's own
scratch root) lives under ``perfbench/_work/<pid>`` and is deleted when the
run ends; a summary with the spans of a traced run is kept under
``perfbench/_results``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it carries the workload's own metric names (see
``perfbench/README.md``), host facts and load averages.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("ingest", "dashboard", "stream_state", "curation")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap: a quarter of the host's RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def configure_env(work: str, cores: int, trace: bool) -> None:
    """Size the program to the host and keep every file it writes inside
    ``work``; must run before pyspark starts the JVM."""
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    mem = driver_mem()
    os.environ["SPARK_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # Python workers (pandas UDFs, applyInPandasWithState) import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # Both JVMs spark-submit starts (launcher and driver) keep their
    # temporary files under work and write no /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _children(pid: int) -> set[int]:
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    kids[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        for c, parent in kids.items():
            if parent == p and c not in out:
                out.add(c)
                todo.append(c)
    return out


def stop_spark() -> None:
    """Stop the session and the JVM, and wait for every process they
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return  # never started
    procs = _children(os.getpid())
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; None unless that is above the median (21 samples)."""
    n = len(samples)
    if n < 21:
        return None
    k = n - 11  # ten samples sort after index k
    return 100.0 * (k + 1) / n, sorted(samples)[k]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; tiny is for perfbench/selftest.py")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="drop one expected row, so the gate must fail")
    a = ap.parse_args()
    trace = bool(a.trace)

    cores = host_cores()
    load_before, steal_before = os.getloadavg(), steal_s()
    work = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(work)
    try:
        configure_env(work, cores, trace)
        sys.path[:0] = [REPO, HERE]
        import pyarrow

        import datagen
        import tracing
        import workloads as wl
        from bigdatainvesttink_spark.session import get_spark

        pyarrow.set_cpu_count(cores)
        sf = wl.FIXTURE_SF[a.size]
        fixtures = os.path.join(work, "fixtures")
        datagen.write_fixtures(fixtures, sf)
        start = functools.partial(get_spark, f"perfbench-{a.workload}")
        run = wl.Run(start, fixtures, work, a.seed, a.seconds, a.size, trace,
                     a.corrupt_expected, cores)
        try:
            if a.workload == "ingest":
                res = wl.run_ingest(run)
            else:
                res = wl.run_queries(run, a.workload)
        finally:
            stop_spark()

        if trace:
            events = tracing.read_event_log(os.path.join(work, "eventlog"))
            res.layers.update(tracing.executor_metrics(events, *res.timed, cores))
            if a.workload == "ingest":
                wl.ingest_layers(res, run, events)
            else:
                wl.query_layers(res, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if not res.latencies:
        sys.exit(f"no timed operation succeeded: {res.problems[:5]}")
    load_after = os.getloadavg()
    p50 = statistics.median(res.latencies)
    items_per_s = res.items / sum(res.latencies)
    ok_ratio = 1.0 - res.failed / max(1, res.attempted)
    tail = tail_percentile(res.latencies)
    end_to_end = {
        "setup_s": (res.setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "items_per_s": (items_per_s, "items/s"),
        "ops_ok_ratio": (ok_ratio, "ratio"),
    }
    layers = dict(res.layers)
    layers["peak_rss_mb"] = res.peak_rss_mb
    if trace:
        layers["trace.op_p50_s"] = p50
        layers["trace.spans"] = float(len(run.spans.rows))

    # The workload's own metric names (README.md), host facts and load.
    names = wl.WORKLOAD_NAMES[a.workload]
    detail = {names["p50"]: (p50, "s"), names["rate"]: (items_per_s, names["rate_unit"]),
              "peak_rss_mb": (res.peak_rss_mb, "MB")}
    if names.get("pass"):
        detail[names["pass"]] = (statistics.median(res.pass_s), "s")
    if names.get("tail") and tail:
        detail[names["tail"]] = (tail[1], "s")
        detail[names["tail"] + ".percentile"] = (tail[0], "%")
    detail.update(res.detail)
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "size": a.size,
        "fixtures": sf,
        "nproc": cores, "samples": len(res.latencies),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "loaded_host": load_before[0] > cores,
        "cpu_steal_s": steal_s() - steal_before,
        "problems": res.problems[:20],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {
            **end_to_end, **detail}.items()},
    }
    results = os.path.join(HERE, "_results")
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump({**info, "layers": layers,
                   "ops": list(zip(res.op_names, res.latencies))}, f, indent=1)
    if trace:
        run.spans.dump(os.path.join(results, stem + ".spans.json"))
    print(json.dumps(info))

    if trace:
        units = wl.LAYER_UNITS
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
