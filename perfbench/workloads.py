"""The three workloads. Each one generates its inputs from the seed, warms
up, times whole rounds of one operation until ``seconds`` have passed,
checks every round's output apart from the program, and returns the
record counts plus its metrics.

End-to-end metrics (untraced run) mean the same on every workload:

- ``setup_s``: process start to the end of the warm-up, minus the
  benchmark's own input generation;
- ``round_s``: median wall of one round (headline: the query walls of
  one pass summed; pipelines: one ``Pipeline.run``; CDC: the drain of
  snapshot plus WAL backlog by a fresh stream);
- ``lag_p50_ms``: median time from an input being available to its
  result being done (headline: one query, from the start of its pass;
  pipelines: one run, as every message is there at the start; CDC: one
  tail change, from its generator stamp to the end of its micro-batch).

Records per second are the staged records of one round over ``round_s``;
the README lists them. The peak RSS of the process tree is a per-layer
metric (``mem.peak_rss_mb``): it moved by 6-15% between runs of the same
code.

The traced run (``trace=True``) reports the per-layer metrics instead,
each per round where it is a time or a count of work.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from itertools import accumulate

import checks
import datagen
from spans import RssSampler, Tracer, cpu_split, event_log_totals, \
    udf_profile_s

HERE = os.path.dirname(os.path.abspath(__file__))

HEADLINE_SF = 0.01
# Headline queries left out: each rounds a sum of cent-valued products
# (four decimals) to cents, so on an input whose exact sum ends in a
# half cent Spark and DuckDB round apart, on some seeds and not others
# (join_star_revenue_by_nation did so on seeds 1 and 8). See the FOUND
# line in CHANGES.md.
HEADLINE_LEFT_OUT = ("q1_pricing_summary", "q5_local_supplier_volume",
                     "q6_forecast_revenue", "join_enrichment_lookup",
                     "join_star_revenue_by_nation")
COMPILED_EVENTS = 800_000
AGREEMENT_SAMPLE = 2_000  # events the interpreted pipeline re-checks
# the first full-size round takes about 7x a warm one's wall, and the
# third was still up to 45 % slower than the rounds after it
PIPELINE_WARM_ROUNDS = 3
CDC_SNAPSHOT = 2_000
CDC_BACKLOG = 8_000
CDC_TAIL_RATE = 500      # changes per second, open loop
CDC_TAIL_S = 2.0
CDC_TAIL_PERIOD_S = 0.1  # one WAL segment per period

PER_LAYER = (
    "session.start_s",
    "catalog.load_table_s", "catalog.load_table_calls",
    "queries.build_s", "queries.build_jobs",
    "plan.s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.gc_s", "exec.executor_run_s",
    "pipeline.build_s", "pipeline.python_operators",
    "pipeline.python_tasks", "pipeline.longest_python_task_s",
    "bloblang.compile_s", "bloblang.pyeval_us_per_msg",
    "python.udf_s", "cpu.jvm_s", "cpu.python_s",
    "source.latest_offset_ms", "source.get_batch_ms",
    "state.add_batch_ms", "state.bytes",
    "stream.batches", "stream.commit_ms", "stream.lag_p99_ms",
    "stream.generator_late_ms",
    "sink.bytes",
    "mem.peak_rss_mb",
    "trace.round_s", "trace.spans",
)
UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_bytes": "bytes",
         ".bytes": "bytes", "_us_per_msg": "us/msg", "_mb": "MB"}

# physical operators that evaluate Python on the executors
PYTHON_NODES = re.compile(
    r"\b(?:FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|ArrowEvalPython"
    r"|BatchEvalPython|MapInPandas|PythonMapInArrow|FlatMapGroupsInArrow"
    r"|AggregateInPandas|WindowInPandas)\b")


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


class Run:
    """State shared by one benchmark process: the session, the tracer,
    the work directory and the wall-clock anchors."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str,
                 t_start: float, event_log_dir: str | None):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = t_start
        self.event_log_dir = event_log_dir
        self.tracer = Tracer(trace)
        self.gen_s = 0.0
        self.setup_s = 0.0
        self.deadline = float("inf")  # end of the timed window
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.spark = None
        self.rss = RssSampler()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, phase: str) -> None:
        """Log the end of a phase, in seconds from process start."""
        print(f"perfbench: {phase} at "
              f"{time.perf_counter() - self.t_start:.1f} s", file=sys.stderr)

    def generate(self, fn, *args, **kwargs):
        """Run an input generator; its time is kept out of set-up."""
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.gen_s += time.perf_counter() - t

    def start_session(self):
        from connect_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.mark("session started")
        self.layer["session.start_s"] = self.tracer.total(
            "session.get_spark")
        return self.spark

    def setup_done(self) -> float:
        return time.perf_counter() - self.t_start - self.gen_s

    def job_group(self, group: str) -> None:
        """Tag the next jobs (traced runs only). Warm-up rounds get one
        group of their own, so no timed-round prefix matches them."""
        if self.trace:
            if not self.tracer.enabled:
                group = "warm-up"
            self.spark.sparkContext.setJobGroup(group, group)

    def jobs_in(self, prefixes: tuple[str, ...], groups: list[str]) -> int:
        st = self.spark.sparkContext.statusTracker()
        return sum(len(st.getJobIdsForGroup(g)) for g in groups
                   if g.startswith(prefixes))

    def exec_from_event_log(self, groups: tuple[str, ...], rounds: int
                            ) -> dict[str, float]:
        """Fold the event-log task totals of ``groups`` into the layer
        metrics, per round. Call after the session has stopped, so the
        log is complete."""
        tot = event_log_totals(self.event_log_dir, groups)
        for k in ("stages", "tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_s",
                  "executor_run_s"):
            self.layer[f"exec.{k}"] = tot.get(k, 0.0) / rounds
        return tot

    def result(self, attempted: int, failed: int, e2e: dict,
               correct: bool | None = None) -> dict:
        """The result line. ``correct`` defaults to no failed record; a
        workload whose failures all come from one known fault passes its
        own verdict on the records that did not fail."""
        if self.trace:
            self.layer["trace.spans"] = len(self.tracer.spans)
            self.layer["mem.peak_rss_mb"] = self.rss.peak / 2**20
            metrics = {k: {"value": round(float(v), 6), "unit": unit_of(k)}
                       for k, v in self.layer.items()}
        else:
            units = {"setup_s": "s", "round_s": "s", "lag_p50_ms": "ms"}
            metrics = {k: {"value": round(float(e2e[k]), 6),
                           "unit": units[k]} for k in units}
        if correct is None:
            correct = failed == 0
        return {"correct": bool(correct), "attempted": int(attempted),
                "failed": int(failed), "metrics": metrics}


def _timed_rounds(run: Run, one_round, warm: int, last=None) -> list:
    """Warm up with ``warm`` untimed rounds (``one_round(-1)``,
    ``one_round(-2)``, ...; set-up ends after them), then call
    ``one_round(0)``, ``one_round(1)``, ... until ``run.seconds`` of
    rounds have passed (at least one), or, with ``last``, until
    ``last(result)`` says a round was the last one; such a round looks
    at ``run.deadline`` itself. Returns the timed rounds' results. CPU
    of the process tree over the timed rounds lands in the layer
    metrics."""
    with run.tracer.paused():
        for i in range(warm):
            one_round(-1 - i)
    run.setup_s = run.setup_done()
    run.mark("warmed up")
    out, walls = [], []
    jvm0, py0 = cpu_split()
    run.deadline = time.perf_counter() + run.seconds
    while not out or (not last(out[-1]) if last
                      else time.perf_counter() < run.deadline):
        t = time.perf_counter()
        out.append(one_round(len(out)))
        walls.append(round(time.perf_counter() - t, 3))
    print(f"perfbench: {len(out)} rounds, walls {walls} s", file=sys.stderr)
    run.mark("timed rounds done")
    jvm1, py1 = cpu_split()
    run.layer["cpu.jvm_s"] = (jvm1 - jvm0) / len(out)
    run.layer["cpu.python_s"] = (py1 - py0) / len(out)
    return out


def _python_operators(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(PYTHON_NODES.findall(plan))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------
# headline_queries
# --------------------------------------------------------------------


def headline_queries(run: Run) -> dict:
    from connect_spark import catalog
    from connect_spark.queries import all_queries

    tdir = run.path("tables")
    run.generate(datagen.write_tables, run.seed, tdir, HEADLINE_SF)
    specs = [s for s in all_queries()
             if s.headline and s.name not in HEADLINE_LEFT_OUT]
    spark = run.start_session()

    # Output capture doubles as the cold part of the warm-up: every query
    # collected, four at a time after the first (whose table load ships
    # the package to the Python workers; catalog._ship_package is not
    # safe to enter from two threads at once). The rows are compared
    # with DuckDB after the timed passes. A further sequential warm-up
    # pass would cost a third of the run.
    def collect(spec):
        df = spec.fn(spark, tdir)
        return df.columns, [tuple(r) for r in df.collect()]

    outputs = [collect(specs[0])]
    with ThreadPoolExecutor(4) as pool:
        outputs += list(pool.map(collect, specs[1:]))
    spark.catalog.clearCache()

    tr = run.tracer
    tr.wrap_module_function(catalog, "load_table", "catalog.load_table")
    groups: list[str] = []

    def one_pass(i: int) -> dict[str, float]:
        walls = {}
        for spec in specs:
            gb, gx = f"bench:b:{i}:{spec.name}", f"bench:x:{i}:{spec.name}"
            groups.extend((gb, gx))
            t = time.perf_counter()
            with tr.span("query"):
                run.job_group(gb)
                with tr.span("queries.build"):
                    df = spec.fn(spark, tdir)
                run.job_group(gx)
                if run.trace:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    df.write.mode("overwrite").format("noop").save()
            walls[spec.name] = time.perf_counter() - t
            spark.catalog.clearCache()
        return walls

    passes = _timed_rounds(run, one_pass, warm=0)
    print("perfbench: query walls", json.dumps(
        {k: [round(p[k], 3) for p in passes] for k in passes[0]}),
        file=sys.stderr)
    run.rss.stop()
    tr.unpatch()

    con = checks.oracle_connection(tdir)
    try:
        bad = sum(1 for spec, (cols, rows) in zip(specs, outputs)
                  if checks.headline_problems(con, spec.oracle, cols, rows))
    finally:
        con.close()

    n = len(passes)
    totals = [sum(p.values()) for p in passes]
    if run.trace:
        st = tr.self_times()
        L = run.layer
        L["catalog.load_table_s"] = tr.total("catalog.load_table") / n
        L["catalog.load_table_calls"] = tr.counts["catalog.load_table"] / n
        L["queries.build_s"] = st.get("queries.build", 0.0) / n
        L["plan.s"] = tr.total("plan") / n
        L["exec.s"] = tr.total("exec") / n
        L["queries.build_jobs"] = run.jobs_in(("bench:b:",), groups) / n
        L["exec.jobs"] = run.jobs_in(("bench:x:",), groups) / n
        L["trace.round_s"] = tr.total("query") / n
        L["python.udf_s"] = udf_profile_s(spark, run.path("profile")) / n
        _stop(run)
        run.exec_from_event_log(("bench:x:",), n)
        return run.result(len(specs) * n, bad * n, {})
    return run.result(len(specs) * n, bad * n, {
        "setup_s": run.setup_s,
        "round_s": statistics.median(totals),
        # every query's input is there when the pass starts, so its
        # result is done when it and the queries before it have run
        "lag_p50_ms": 1e3 * statistics.median(
            c for p in passes for c in accumulate(p.values())),
    })


# --------------------------------------------------------------------
# pipeline_compiled
# --------------------------------------------------------------------


def pipeline_compiled(run: Run) -> dict:
    from connect_spark.bloblang import compiler
    from connect_spark.plans import pipeline as pl

    compiled_yaml = os.path.join(HERE, "pipelines", "compiled.yaml")
    interpreted_yaml = os.path.join(HERE, "pipelines", "interpreted.yaml")
    in_pq, sample_jsonl = run.path("events"), run.path("sample.jsonl")

    def stage():
        ev = datagen.events_frame(run.seed, COMPILED_EVENTS)
        datagen.write_events(ev, in_pq, None)
        # the first events again, as raw JSON lines for the interpreter
        datagen.write_events(ev.iloc[:AGREEMENT_SAMPLE], None, sample_jsonl)

    run.generate(stage)
    spark = run.start_session()

    tr = run.tracer
    tr.wrap_module_function(pl.Pipeline, "dataframe", "pipeline.dataframe")
    tr.wrap_module_function(compiler, "compile_mapping",
                            "bloblang.compile_mapping")
    groups: list[str] = []

    def one_round(i: int) -> float:
        p = pl.build_pipeline(spark, compiled_yaml, env={
            "BENCH_IN": in_pq, "BENCH_OUT": run.path(f"out_{i}")})
        groups.append(f"bench:p:{i}")
        run.job_group(groups[-1])
        t = time.perf_counter()
        with tr.span("pipeline.run"):
            p.run()
        return time.perf_counter() - t

    walls = _timed_rounds(run, one_round, warm=PIPELINE_WARM_ROUNDS)
    run.rss.stop()
    tr.unpatch()
    rounds = len(walls)
    if run.trace:
        L = run.layer
        st = tr.self_times()
        L["pipeline.build_s"] = st.get("pipeline.dataframe", 0.0) / rounds
        L["bloblang.compile_s"] = tr.total("bloblang.compile_mapping") / rounds
        L["exec.s"] = st.get("pipeline.run", 0.0) / rounds
        L["exec.jobs"] = run.jobs_in(("bench:p:",), groups) / rounds
        L["sink.bytes"] = statistics.mean(
            _dir_bytes(run.path(f"out_{i}")) for i in range(rounds))
        L["trace.round_s"] = tr.total("pipeline.run") / rounds
        L["python.udf_s"] = udf_profile_s(spark, run.path("profile")) / rounds
        df = pl.build_pipeline(spark, compiled_yaml, env={
            "BENCH_IN": in_pq, "BENCH_OUT": run.path("out_plan")}
        ).dataframe()
        t = time.perf_counter()
        L["pipeline.python_operators"] = _python_operators(df)
        L["plan.s"] = time.perf_counter() - t
        L["bloblang.pyeval_us_per_msg"] = _pyeval_us_per_msg(sample_jsonl)

    from pandas import read_parquet

    expected = checks.pipeline_expected(read_parquet(in_pq))
    failed = 0
    for i in range(rounds):
        got, errors = checks.compiled_records(run.path(f"out_{i}"))
        failed += checks.compare_records(expected, got) + errors
    # The two evaluators of one language must agree record for record:
    # the interpreted form of the same pipeline over the first events,
    # against the compiled output for those events.
    run.job_group("agreement-check")
    pl.build_pipeline(spark, interpreted_yaml, env={
        "BENCH_IN": sample_jsonl, "BENCH_OUT": run.path("out_interp")}).run()
    mine, errors = checks.interpreted_records(run.path("out_interp"))
    ids = expected["event_id"] < AGREEMENT_SAMPLE
    got, _ = checks.compiled_records(run.path(f"out_{rounds - 1}"))
    failed += checks.compare_records(
        got[got["event_id"] < AGREEMENT_SAMPLE], mine) + errors
    failed += checks.compare_records(expected[ids], mine)

    if run.trace:
        _stop(run)
        tot = run.exec_from_event_log(("bench:p:",), rounds)
        run.layer["pipeline.python_tasks"] = tot.get(
            "python_tasks", 0.0) / rounds
        run.layer["pipeline.longest_python_task_s"] = tot.get(
            "longest_python_task_s", 0.0)
        return run.result(COMPILED_EVENTS * rounds, failed, {})
    return run.result(COMPILED_EVENTS * rounds, failed, {
        "setup_s": run.setup_s,
        "round_s": statistics.median(walls),
        "lag_p50_ms": 1e3 * statistics.median(walls),
    })


def _pyeval_us_per_msg(jsonl_path: str) -> float:
    """In-process cost of the interpreter on a fixed message sample: the
    mutation, the switch case and the mapping of interpreted.yaml, each
    fed the previous one's output, per input message."""
    import yaml

    from connect_spark.bloblang.pyeval import Message, eval_batch

    with open(os.path.join(HERE, "pipelines", "interpreted.yaml")) as fh:
        procs = yaml.safe_load(fh)["pipeline"]["processors"]
    steps = [("mutation", procs[0]["mutation"]),
             ("mutation", procs[2]["switch"][0]["processors"][0]["mutation"]),
             ("mapping", procs[3]["mapping"])]
    with open(jsonl_path, encoding="utf-8") as fh:
        sample = [line.rstrip("\n") for line in fh]
    eval_batch(steps[0][1], [Message(c) for c in sample[:10]],
               mode="mutation")
    t = time.perf_counter()
    msgs = [Message(c) for c in sample]
    for mode, src in steps:
        msgs = [Message(m.content) for m in eval_batch(src, msgs, mode=mode)]
    return (time.perf_counter() - t) * 1e6 / len(sample)


# --------------------------------------------------------------------
# cdc_stream
# --------------------------------------------------------------------


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects every micro-batch progress report by query id."""

        def __init__(self):
            self.reports: dict[str, list[dict]] = {}
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.reports.setdefault(str(event.progress.id), []).append(
                    json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress


def _batch_end_ms(report: dict) -> float:
    from datetime import datetime

    start = datetime.strptime(report["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds() * 1e3
    return epoch + report["durationMs"].get("triggerExecution", 0)


def _offset(value) -> dict:
    if isinstance(value, str):
        return json.loads(value)
    return value or {}


def _lsn_range(report: dict) -> tuple[int, int]:
    src = report["sources"][0]
    return (int(_offset(src.get("startOffset")).get("lsn", 0)),
            int(_offset(src["endOffset"])["lsn"]))


def _offset_changes(report: dict) -> int:
    """Snapshot rows plus WAL changes between a batch's start and end
    offsets (WAL LSNs are consecutive)."""
    src = report["sources"][0]
    start, end = _offset(src.get("startOffset")), _offset(src["endOffset"])
    return (end["snap"] - start.get("snap", 0)
            + end["lsn"] - start.get("lsn", 0))


def _drain(run: Run, spark, listener, plan, name: str, tail: bool):
    """One CDC round: stage snapshot and backlog, start the stream and
    drain it. With ``tail``, and once the timed window has passed, the
    same stream then takes the open-loop tail: the generator appends it
    on a fixed schedule and the round waits for it. Returns (drain wall,
    lags ms, generator lateness ms, reports, run id, state dir, whether
    the tail ran)."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    from connect_spark.sources.cdc_stream import CdcWal, \
        materialize_cdc_stream
    from connect_spark.state.cache import ParquetKVCache

    d = run.path(name)
    snap, wal_dir = os.path.join(d, "snap.parquet"), os.path.join(d, "wal")
    os.makedirs(d)
    run.generate(datagen.write_cdc, plan, snap, wal_dir)
    schema = StructType([StructField("id", LongType()),
                         StructField("name", StringType()),
                         StructField("qty", LongType())])
    cache = ParquetKVCache(spark, os.path.join(d, "state"), key="id")
    t = time.perf_counter()
    with run.tracer.span("cdc.drain"):
        q = materialize_cdc_stream(spark, wal_dir, snap, schema, "id", cache,
                                   os.path.join(d, "ckpt"))
        q.processAllAvailable()
    drain = time.perf_counter() - t

    segments: list[tuple[int, int, float]] = []  # first lsn, last, due ms
    late: list[float] = []
    tail = tail and time.perf_counter() >= run.deadline
    if tail:
        wal = CdcWal(wal_dir)
        per = max(1, int(CDC_TAIL_RATE * CDC_TAIL_PERIOD_S))
        chunks = [plan.tail[i:i + per] for i in range(0, len(plan.tail), per)]
        lsn = wal.last_lsn()
        t0 = time.time()
        for k, chunk in enumerate(chunks):
            due = t0 + k * CDC_TAIL_PERIOD_S
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            late.append(max(0.0, time.time() - due) * 1e3)
            last = wal.append(chunk, table="items",
                              commit_ts_ms=int(due * 1e3))
            segments.append((lsn + 1, last, due * 1e3))
            lsn = last
        with run.tracer.span("cdc.tail_wait"):
            q.processAllAvailable()
    last_batch = q.lastProgress["batchId"] if q.lastProgress else -1
    q.stop()
    deadline = time.time() + 30
    while time.time() < deadline:
        with listener.lock:
            reports = list(listener.reports.get(str(q.id), []))
        if reports and reports[-1]["batchId"] >= last_batch:
            break
        time.sleep(0.05)
    lags = []
    ends = [(*_lsn_range(r), _batch_end_ms(r)) for r in reports
            if r.get("numInputRows")]
    for first, last, due_ms in segments:
        for lo, hi, end_ms in ends:
            covered = max(0, min(hi, last) - max(lo + 1, first) + 1)
            lags.extend([end_ms - due_ms] * covered)
    return drain, lags, late, reports, str(q.runId), os.path.join(
        d, "state"), tail


def cdc_stream(run: Run) -> dict:
    plan = run.generate(datagen.cdc_plan, run.seed, CDC_SNAPSHOT,
                        CDC_BACKLOG, int(CDC_TAIL_RATE * CDC_TAIL_S))
    warm = run.generate(datagen.cdc_plan, run.seed + 1, CDC_SNAPSHOT,
                        CDC_BACKLOG, 0)
    spark = run.start_session()
    listener = _listener_class()()
    spark.streams.addListener(listener)
    # rounds before the last end at the backlog, the last after the tail
    drained = datagen.replay(datagen.CdcPlan(plan.snapshot, plan.backlog))
    tailed = datagen.replay(plan)
    rounds = _timed_rounds(run, lambda i: _drain(
        run, spark, listener, plan if i >= 0 else warm, f"round_{i}",
        tail=i >= 0), warm=1, last=lambda r: r[6])
    run.rss.stop()
    failed = state_bad = attempted = 0
    for _drain_s, _lags, _late, reports, _rid, state, tail in rounds:
        n_changes = plan.n_changes if tail else \
            plan.n_changes - len(plan.tail)
        attempted += n_changes
        state_bad += checks.state_problems(*checks.read_state(state),
                                           tailed if tail else drained)
        # every change must be counted once by the progress reports
        failed += checks.unconserved_changes(
            [(r["numInputRows"], _offset_changes(r)) for r in reports])
        delivered = sum(_offset_changes(r) for r in reports)
        failed += abs(n_changes - delivered)
    # the state check speaks for every change; conservation fails on
    # every batch of the current program (see README, "Known fault")
    correct = state_bad == 0
    failed = min(failed + state_bad, attempted)

    drains = [r[0] for r in rounds]
    print(f"perfbench: drains {[round(d, 3) for d in drains]} s",
          file=sys.stderr)
    lags = rounds[-1][1]
    n = len(rounds)
    if run.trace:
        L = run.layer
        reports = [rep for r in rounds for rep in r[3]
                   if rep.get("numInputRows")]
        dur = [rep["durationMs"] for rep in reports]
        L["stream.batches"] = len(reports) / n
        L["source.latest_offset_ms"] = statistics.mean(
            d.get("latestOffset", 0) for d in dur)
        L["source.get_batch_ms"] = statistics.mean(
            d.get("getBatch", 0) for d in dur)
        L["state.add_batch_ms"] = statistics.mean(
            d.get("addBatch", 0) for d in dur)
        L["stream.commit_ms"] = statistics.mean(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur)
        L["stream.lag_p99_ms"] = statistics.quantiles(lags, n=100)[98]
        L["stream.generator_late_ms"] = max(rounds[-1][2])
        L["state.bytes"] = statistics.mean(
            _dir_bytes(_latest_gen(r[5])) for r in rounds)
        L["exec.s"] = statistics.mean(drains)
        L["trace.round_s"] = statistics.median(drains)
        run_ids = [r[4] for r in rounds]
        L["exec.jobs"] = run.jobs_in(tuple(run_ids), run_ids) / n
        L["python.udf_s"] = udf_profile_s(spark, run.path("profile")) / n
        _stop(run)
        run.exec_from_event_log(tuple(run_ids), n)
        return run.result(attempted, failed, {}, correct)
    return run.result(attempted, failed, {
        "setup_s": run.setup_s,
        "round_s": statistics.median(drains),
        "lag_p50_ms": statistics.median(lags),
    }, correct)


def _latest_gen(state_dir: str) -> str:
    gens = [int(d[1:]) for d in os.listdir(state_dir)
            if d.startswith("v") and d[1:].isdigit()]
    return os.path.join(state_dir, f"v{max(gens)}")


def _stop(run: Run) -> None:
    if run.spark is not None:
        run.spark.stop()
        run.spark = None


WORKLOADS = {
    "headline_queries": headline_queries,
    "pipeline_compiled": pipeline_compiled,
    "cdc_stream": cdc_stream,
}
