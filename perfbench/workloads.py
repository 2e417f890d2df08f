"""The four workloads. Each drives the package only through its public
functions (``session.get_spark``, ``fixtures.domain_table``,
``streaming.pipeline.ingest_stream``, ``sources.ingest.ingest`` and the
``registry`` query builders), in a closed loop with one client.

A workload returns a ``Result``: the latencies of its timed operations,
the items they processed, the set-up time, the failures found by its
correctness gate, and (traced runs) per-layer figures.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
from tracing import (ProgressListener, Spans, input_rows, jobs_between,
                     reset_hwm, streaming_metrics, vm_hwm_mb)

DASHBOARD_OPS = [
    "b2_volatility", "b3_large_trade_impact", "b4_autocorr", "b5_imbalance",
    "b1_candles_from_trades", "b3c_nearest_book_snapshot",
    "b5b_depth_imbalance", "b8_top_volatile", "b9_sector_rollup",
    "q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
]
STREAM_STATE_OPS = [
    "c_stream_tumbling_counts", "c_stream_session_counts",
    "c_stream_dedup_roundtrip", "c_stream_vwap_stateful",
    "c_stream_stream_interval_join",
]
CURATION_OPS = [
    "d1_dedup_exact", "d2_minhash_lsh", "d2_simhash", "d3_ann_lsh_bucketed",
    "d3_semantic_dedup_clusters", "d4_repetition_filter",
    "d7_curation_pipeline",
]
# The stored domain tables the dashboard reads (FIXTURES.md section B).
DOMAIN_TABLES = ["companies", "trades", "order_book", "book_levels", "candles"]

# Fewest timed operations per run, in whole passes: a run measures for at
# least --seconds and at least this many operations (one pass; five ingest
# files, as one file gives one sample).
MIN_OPS = {"ingest": 5, "dashboard": 12, "stream_state": 5, "curation": 7}
# Untimed passes after the gated warm-up pass. Dashboard queries are short
# and still speed up by about a tenth from the first pass to the third, so
# one more pass keeps that warm-up out of the timed pass.
EXTRA_WARMUP_PASSES = {"dashboard": 1, "stream_state": 0, "curation": 0}

# The fixture set every workload reads, per input size. Dashboard stays on
# sf0.01 too: on sf0.1 its set-up takes about 37 s instead of 29 s and a
# pass 13.5 s instead of 8.5 s (one warm-up pass, 4 cores), which the
# benchmark's run budget does not allow (README.md, "Budget").
FIXTURE_SF = {"bench": "sf0.01", "tiny": "sf0.001"}
# Ingest files landed before timing.
WARMUP_BATCHES = 1


# Each workload's own names for the generic end-to-end figures (README.md).
WORKLOAD_NAMES = {
    "ingest": {"p50": "ingest_batch_p50_s", "tail": "ingest_batch_tail_s",
               "rate": "ingest_msgs_per_s", "rate_unit": "msg/s"},
    "dashboard": {"p50": "dashboard_query_p50_s",
                  "tail": "dashboard_query_tail_s",
                  "rate": "dashboard_queries_per_s", "rate_unit": "q/s"},
    "stream_state": {"p50": "stream_state_job_p50_s",
                     "rate": "stream_state_events_per_s",
                     "rate_unit": "rows/s"},
    "curation": {"p50": "curation_op_p50_s", "pass": "curation_pass_s",
                 "rate": "curation_ops_per_s", "rate_unit": "ops/s"},
}

_PHASES = ("build_s", "plan_s", "execute_s", "exchanges_per_plan", "jobs_per_op")
_LISTENER = tuple(f"streaming.{n}" for n in (
    "trigger_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "query_planning_ms", "latest_offset_ms"))
# Layer figures that exist on one workload only; a traced run prints them
# on the line before its result (README.md).
TRACE_DETAIL = {
    "ingest": (
        "sources.ingest.ingest_s", "sources.ingest.msgs_in",
        "sources.ingest.rows_valid", "sources.ingest.rows_rejected",
        "sources.ingest.valid_ratio", "streaming.pipeline.ingest_stream_s",
        "streaming.pipeline.jobs_per_batch", "io.files_written_per_batch",
        "io.bytes_written_per_msg", *_LISTENER),
    "dashboard": (
        "fixtures.domain_table_s", "fixtures.rows_written",
        *(f"operators.{f}.{p}" for f in ("analytics", "tpch", "relational")
          for p in _PHASES)),
    "stream_state": (
        *_LISTENER, "streaming.state_rows_total", "streaming.state_memory_bytes",
        "streaming.state_commit_ms", "streaming.rows_dropped_by_watermark",
        "streaming.batches_per_job", "streaming.input_rows",
        *(f"operators.pipeline.{p}" for p in _PHASES)),
    "curation": tuple(f"operators.{f}.{p}" for f in ("dedup", "similarity", "curation")
                      for p in _PHASES),
}

# Per-layer metrics of a traced run (BENCHMARK.json "per_layer"), with units.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "setup.warmup_s": "s",
    "operators.build_s": "s",
    "operators.plan_s": "s",
    "operators.execute_s": "s",
    "operators.exchanges_per_plan": "count",
    "operators.jobs_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.task_skew_max": "ratio",
    "spark.core_utilization": "ratio",
    "trace.op_p50_s": "s",
    "trace.spans": "count",
    "peak_rss_mb": "MB",
}


@dataclass
class Run:
    """What a workload needs from the command line and the environment."""

    spark_factory: object  # () -> SparkSession, timed as session start
    fixtures: str
    work: str
    seed: int
    seconds: float
    size: str
    trace: bool
    corrupt: bool
    cores: int
    spans: Spans = field(init=False)

    def __post_init__(self):
        self.spans = Spans(self.trace)


@dataclass
class Result:
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    items: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    timed: tuple[float, float] = (0.0, 0.0)
    peak_rss_mb: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    # traced runs: per-op (span, build_s, plan_s, execute_s, exchanges)
    phases: dict[str, list[tuple]] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    stream_jobs: int = 0
    batches: list[tuple] = field(default_factory=list)
    expected_rows: dict[str, int] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def _peak_start() -> tuple[int, int]:
    """Start a new peak RSS window for the driver JVM and this process;
    returns their pids. Windows cover the timed loop only, so input
    generation, the DuckDB oracle and the correctness gate stay out."""
    from pyspark import SparkContext

    pids = (SparkContext._gateway.proc.pid, os.getpid())
    for pid in pids:
        reset_hwm(pid)
    return pids


def _peak_end(res: Result, pids: tuple[int, int]) -> None:
    jvm, py = (vm_hwm_mb(pid) for pid in pids)
    res.peak_rss_mb = jvm + py
    res.detail["peak_rss_jvm_mb"] = (jvm, "MB")
    res.detail["peak_rss_python_mb"] = (py, "MB")


def _family(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange", plan))


# --------------------------------------------------------------------------
# Correctness against the registry's DuckDB oracle.


class _Replay:
    """A DuckDB result computed before timing, served to
    ``tools.check_oracle.compare`` in place of a live connection so the
    oracle's own run time stays out of the measured set-up."""

    def __init__(self, description, rows):
        self.description, self._rows = description, rows

    def execute(self, sql):
        return self

    def fetchall(self):
        return self._rows


def oracle_results(fixtures: str, ops: list[str], cores: int,
                   corrupt: bool) -> dict[str, _Replay]:
    from bigdatainvesttink_spark import registry
    from tools.check_oracle import duck_con

    con = duck_con(fixtures)
    con.execute(f"SET threads TO {cores}")
    oracles = registry.all_oracles()
    out = {}
    for name in ops:
        cur = con.execute(oracles[name])
        rows = cur.fetchall()
        if corrupt and rows:
            rows = rows[:-1]  # a deliberately wrong expected output
        out[name] = _Replay(cur.description, rows)
    con.close()
    return out


# --------------------------------------------------------------------------
# Query workloads: dashboard, stream_state, curation.


def run_queries(run: Run, workload: str) -> Result:
    from bigdatainvesttink_spark import registry
    from bigdatainvesttink_spark.fixtures import domain_table
    from tools.check_oracle import compare

    ops = {"dashboard": DASHBOARD_OPS, "stream_state": STREAM_STATE_OPS,
           "curation": CURATION_OPS}[workload]
    builders = registry.all_queries()
    expected = oracle_results(run.fixtures, ops, run.cores, run.corrupt)
    res = Result()
    spans, fx = run.spans, run.fixtures
    rng = random.Random(run.seed)

    t_setup = time.time()
    with spans.span("session.get_spark") as s:
        spark = run.spark_factory()
    res.layers["session.get_spark_s"] = s.seconds
    listener = ProgressListener()
    spark.streams.addListener(listener)

    if workload == "dashboard":
        with spans.span("fixtures.domain_table") as s:
            tables = [domain_table(spark, fx, t) for t in DOMAIN_TABLES]
        res.detail["fixtures.domain_table_s"] = (s.seconds, "s")

    # Warm-up pass, which is also the correctness gate: every operation
    # once, collected and compared with its oracle.
    rows_per_op: dict[str, int] = {}
    with spans.span("setup.warmup") as s:
        for name in rng.sample(ops, len(ops)):
            mark = listener.mark()
            res.attempted += 1
            try:
                with spans.span(f"gate:{name}"):
                    problems = compare(name, builders[name](spark, fx),
                                       expected[name], "")
            except Exception as e:  # one failing operator must not end the run
                problems = [f"exception: {type(e).__name__}: {e}"]
            if problems:
                res.fail(f"{name}: {problems[0]}")
            listener.drain()
            rows_per_op[name] = input_rows(listener.since(mark))
            spark.catalog.clearCache()
        for _ in range(EXTRA_WARMUP_PASSES[workload]):
            for name in rng.sample(ops, len(ops)):
                try:
                    df = builders[name](spark, fx)
                    df.write.format("noop").mode("overwrite").save()
                except Exception:
                    pass  # counted by the gate above and the timed loop
                spark.catalog.clearCache()
    res.setup_s = time.time() - t_setup
    res.layers["setup.warmup_s"] = s.seconds
    if not run.trace:
        spark.streams.removeListener(listener)
    if workload == "dashboard" and run.trace:
        res.detail["fixtures.rows_written"] = (
            float(sum(t.count() for t in tables)), "rows")

    # Timed loop: whole passes, each in a fresh seeded order, until the
    # run length has passed and MIN_OPS operations ran.
    mark = listener.mark()
    pids = _peak_start()
    t0 = time.time()
    n_ops = 0
    while time.time() - t0 < run.seconds or n_ops < MIN_OPS[workload]:
        n_ops += len(ops)
        n_done = len(res.latencies)
        for name in rng.sample(ops, len(ops)):
            res.attempted += 1
            try:
                with spans.span(f"op:{name}") as op:
                    with spans.span("build") as b:
                        df = builders[name](spark, fx)
                    if run.trace:
                        with spans.span("plan") as p:
                            n_exch = _exchanges(df)
                    with spans.span("execute") as x:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                res.fail(f"{name}: exception: {type(e).__name__}: {e}")
                continue
            finally:
                spark.catalog.clearCache()
            res.latencies.append(op.seconds)
            res.op_names.append(name)
            res.items += rows_per_op[name] if workload == "stream_state" else 1
            if run.trace:
                res.phases.setdefault(_family(builders[name]), []).append(
                    (op, b.seconds, p.seconds, x.seconds, n_exch))
        res.pass_s.append(sum(res.latencies[n_done:]))
    res.timed = (t0, time.time())
    _peak_end(res, pids)

    if run.trace:
        listener.drain()
        res.progress = listener.since(mark)
        if workload == "stream_state":
            res.stream_jobs = len(res.latencies)
    return res


def query_layers(res: Result, events: list[dict]) -> None:
    """Per-layer operator figures of a traced query workload: overall
    (the per_layer metrics) and per registry family (the detail line)."""
    overall: dict[str, tuple[float, str]] = {}
    _phase_metrics(overall, "operators.",
                   [r for rows in res.phases.values() for r in rows], events)
    res.layers.update({k: v for k, (v, _) in overall.items()})
    for fam, rows in res.phases.items():
        _phase_metrics(res.detail, f"operators.{fam}.", rows, events)
    if res.stream_jobs:
        _add_streaming(res, res.stream_jobs, state=True)


def _add_streaming(res: Result, n_jobs: int, state: bool) -> None:
    for k, v in streaming_metrics(res.progress, n_jobs).items():
        if state or not k.startswith("streaming.state"):
            unit = {"_ms": "ms", "_bytes": "B"}.get(k[k.rfind("_"):], "count")
            res.detail[k] = (v, unit)


def _phase_metrics(out: dict, prefix: str, rows: list[tuple],
                   events: list[dict]) -> None:
    """Mean per operation of build/plan/execute time, exchanges in the
    executed plan and Spark jobs started during the operation."""
    n = max(1, len(rows))
    out[prefix + "build_s"] = (sum(r[1] for r in rows) / n, "s")
    out[prefix + "plan_s"] = (sum(r[2] for r in rows) / n, "s")
    out[prefix + "execute_s"] = (sum(r[3] for r in rows) / n, "s")
    out[prefix + "exchanges_per_plan"] = (sum(r[4] for r in rows) / n, "count")
    jobs = sum(jobs_between(events, r[0].start, r[0].end) for r in rows)
    out[prefix + "jobs_per_op"] = (jobs / n, "count")


# --------------------------------------------------------------------------
# Ingest: land one file, drive ingest_stream over a persistent checkpoint
# until it returns, land the next.


class _Digest:
    """Order-insensitive digest of a multiset of rows: the row count and
    the sum of per-row SHA-256 hashes, so the expected rows can be added
    one file at a time without keeping them."""

    def __init__(self):
        self.n, self.sum = 0, 0

    def add(self, row: tuple, sign: int = 1) -> None:
        h = int.from_bytes(hashlib.sha256(repr(row).encode()).digest()[:16], "big")
        self.n += sign
        self.sum = (self.sum + sign * h) % 2**128

    def key(self) -> tuple[int, str]:
        return self.n, f"{self.sum:032x}"


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def run_ingest(run: Run) -> Result:
    from bigdatainvesttink_spark.sources.ingest import ingest
    from bigdatainvesttink_spark.streaming.pipeline import ingest_stream

    n_msgs = datagen.wire_msgs(run.size)
    src, ckpt, out, stage = (os.path.join(run.work, d) for d in
                             ("source", "checkpoint", "out", "stage"))
    for d in (src, stage):
        os.makedirs(d)
    spans = run.spans
    res = Result()
    expected = {t: _Digest() for t in datagen.FEEDS}
    last_row: dict[str, tuple] = {}

    def stage_batch(k: int) -> str:
        lines, exp = datagen.wire_batch(run.seed, k, run.size)
        for t, rows in exp.items():
            for row in rows:
                expected[t].add(row)
            if rows:
                last_row[t] = rows[-1]
        path = os.path.join(stage, f"batch-{k:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        return path

    def land_and_ingest(staged: str, name: str):
        landed = os.path.join(src, os.path.basename(staged))
        with spans.span(name) as s:
            os.rename(staged, landed)  # the file lands atomically
            ingest_stream(spark, src, ckpt, out).awaitTermination()
        return s, landed

    warmup = [stage_batch(k) for k in range(WARMUP_BATCHES)]
    t_setup = time.time()
    with spans.span("session.get_spark") as s:
        spark = run.spark_factory()
    res.layers["session.get_spark_s"] = s.seconds
    listener = ProgressListener()
    if run.trace:
        spark.streams.addListener(listener)
    with spans.span("setup.warmup") as warm:
        for k, staged in enumerate(warmup):
            land_and_ingest(staged, f"warmup:batch-{k}")
    res.setup_s = time.time() - t_setup
    res.layers["setup.warmup_s"] = warm.seconds

    batches: list[tuple] = []
    k = WARMUP_BATCHES  # batch number, warm-up files first
    # The files a default-length run lands are made before timing, so
    # generating them stays out of the loop and out of its peak RSS.
    ready = [stage_batch(k + i) for i in range(MIN_OPS["ingest"])]
    mark = listener.mark()
    pids = _peak_start()
    t0 = time.time()
    while time.time() - t0 < run.seconds or k - WARMUP_BATCHES < MIN_OPS["ingest"]:
        name = f"batch-{k}"
        staged = ready.pop(0) if ready else stage_batch(k)
        k += 1
        before = _dir_files(out) if run.trace else {}
        res.attempted += 1
        try:
            s, landed = land_and_ingest(staged, f"op:{name}")
        except Exception as e:
            res.fail(f"{name}: exception: {type(e).__name__}: {e}")
            continue
        res.latencies.append(s.seconds)
        res.op_names.append(name)
        res.items += n_msgs
        if run.trace:
            batches.append((s, landed, before, _dir_files(out)))
    res.timed = (t0, time.time())
    _peak_end(res, pids)

    if run.trace:
        listener.drain()
        res.progress = listener.since(mark)
        res.phases["sources_ingest"] = [
            _ingest_direct(spark, ingest, spans, b[1]) for b in batches]
        res.batches = batches

    # Correctness gate: every landed message stored exactly once, per table.
    for table, want in expected.items():
        res.attempted += 1
        if run.corrupt and table in last_row:
            want.add(last_row[table], -1)  # a deliberately wrong expected output
        got = _Digest()
        path = os.path.join(out, table)
        if os.path.isdir(path):
            for r in pq.read_table(path).to_pylist():
                got.add(tuple(r.values()))
        (want_n, want_h), (got_n, got_h) = want.key(), got.key()
        if (want_n, want_h) != (got_n, got_h):
            res.fail(f"ingest {table}: rows {got_n} vs expected {want_n}, "
                     f"hash {got_h[:12]} vs {want_h[:12]}")
        res.expected_rows[table] = want_n
    return res


def _ingest_direct(spark, ingest, spans: Spans, path: str):
    """``ingest()`` on one landed file with every branch sunk to noop,
    timed by phase (traced runs only)."""
    raw = spark.read.text(path)
    with spans.span("sources.ingest.ingest") as op:
        with spans.span("build") as b:
            branches = ingest(raw)
        with spans.span("plan") as p:
            n_exch = sum(_exchanges(df) for df in branches.values())
        with spans.span("execute") as x:
            for df in branches.values():
                df.write.format("noop").mode("overwrite").save()
    return op, b.seconds, p.seconds, x.seconds, n_exch


def ingest_layers(res: Result, run: Run, events: list[dict]) -> None:
    """Per-layer figures of a traced ingest run."""
    n = max(1, len(res.batches))
    msgs = datagen.wire_msgs(run.size)
    n_all = msgs * (len(res.latencies) + WARMUP_BATCHES)
    valid = sum(res.expected_rows.values())
    direct = res.phases["sources_ingest"]
    jobs = sum(jobs_between(events, b[0].start, b[0].end) for b in res.batches)
    files = sum(len(set(after) - set(before)) for *_, before, after in res.batches)
    written = sum(sum(after.values()) - sum(before.values())
                  for *_, before, after in res.batches)
    d = res.detail
    d["sources.ingest.ingest_s"] = (sum(r[0].seconds for r in direct) / n, "s")
    d["sources.ingest.msgs_in"] = (float(n_all), "msgs")
    d["sources.ingest.rows_valid"] = (float(valid), "rows")
    d["sources.ingest.rows_rejected"] = (float(n_all - valid), "rows")
    d["sources.ingest.valid_ratio"] = (valid / n_all, "ratio")
    d["streaming.pipeline.ingest_stream_s"] = (statistics.median(res.latencies), "s")
    d["streaming.pipeline.jobs_per_batch"] = (jobs / n, "count")
    d["io.files_written_per_batch"] = (files / n, "count")
    d["io.bytes_written_per_msg"] = (written / (n * msgs), "B")
    _add_streaming(res, len(res.latencies), state=False)
    overall: dict[str, tuple[float, str]] = {}
    _phase_metrics(overall, "operators.", direct, events)
    res.layers.update({k: v for k, (v, _) in overall.items()})
    # jobs per timed operation: here the ingest_stream batch, not ingest()
    res.layers["operators.jobs_per_op"] = jobs / n
