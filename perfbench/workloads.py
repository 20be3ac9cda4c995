"""The two workloads and the measurement loop they share.

``within_suite`` runs the single-table catalog of :mod:`perfbench.checks`
and then replays the events table as a file stream through the streaming
monitor (:class:`StreamingMonitor`); ``between_suite`` runs the two-table
catalog.  ``measure`` runs one workload and returns its metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time
import traceback
from collections import Counter

import duckdb
import numpy as np

from . import checks as catalog
from . import inputs
from .probes import JobCounter, OpTimer, Tracer, peak_rss_mb

MIN_OPS = 100
MIN_WARM_PASSES = 2
END_TO_END = {
    "setup_s": "s", "cold_suite_s": "s", "suite_s": "s", "work_per_s": "1/s",
    "op_p50_ms": "ms", "op_p90_ms": "ms", "correct_frac": "ratio",
    "peak_rss_mb": "MB",
}
#: What ``work_per_s`` counts: constraint tests, including those the
#: streaming monitor runs on each micro-batch.
WORK_UNIT = "constraints"


class Pass:
    def __init__(self, traced: bool):
        self.traced = traced
        self.wall = 0.0
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        #: constraint results with outcome False (expected or not)
        self.failures = 0
        self.jobs = Counter()
        #: per-op figures of a traced pass: (kind, jobs, retrieve_s, compare_s)
        self.op_details: list[tuple] = []
        self.stream: dict = {}


class Suite:
    """A constraint catalog run as one requirement per source."""

    def __init__(self, name, rng, paths, rows, work):
        within = name == "within_suite"
        make = catalog.within_checks if within else catalog.between_checks
        self.checks = make(rng, rows)
        self.stream = StreamingMonitor(paths, work) if within else None
        self.paths = paths
        sources = sorted({c.source for c in self.checks})
        rng.shuffle(sources)
        self.order = []
        for source in sources:
            group = [c for c in self.checks if c.source == source]
            rng.shuffle(group)
            self.order.append((source, group))
        self.units = len(self.checks) + (self.stream.units if self.stream else 0)
        self.timer = OpTimer()

    def oracle(self, con) -> None:
        self.expected = {c.name: bool(c.expect(con)) for c in self.checks}
        if self.stream:
            self.stream.oracle(con)

    def install(self, spark, tracer, jobs) -> None:
        self.tracer, self.jobs = tracer, jobs
        self.timer.install()
        if self.stream:
            self.stream.install(spark, tracer, jobs)

    def run_pass(self, spark, record: Pass) -> None:
        owner = {}
        self.timer.ops.clear()
        if record.traced:
            self.timer.on_op_end = lambda c, r: self._op_detail(record, owner[id(c)])
        self.timer.active = True
        start = time.perf_counter()
        for source, group in self.order:
            requirement = catalog.requirement(spark, source, self.paths)
            for check in group:
                check.add(requirement)
                owner[id(requirement[-1])] = check
            record.attempted += len(group)
            try:
                results = requirement.test(spark)
            except Exception:  # a raising constraint fails its requirement
                traceback.print_exc()
                record.failed += len(group)
                continue
            for constraint, result in zip(requirement, results):
                check = owner[id(constraint)]
                record.failures += not result.outcome
                if result.outcome != self.expected[check.name]:
                    print(f"mismatch: {check.name} gave {result.outcome}, "
                          f"oracle {self.expected[check.name]}: "
                          f"{result.failure_message}")
                    record.failed += 1
        self.timer.active = False
        self.timer.on_op_end = None
        record.ops = [end - begin for _, begin, end in self.timer.ops]
        if self.stream:
            self.stream.run_pass(spark, record)
        record.wall = time.perf_counter() - start

    def _op_detail(self, record: Pass, check) -> None:
        tracer = self.tracer
        with tracer.paused():
            jobs, stages, tasks = self.jobs.take()
        record.jobs.update(jobs=jobs, stages=stages, tasks=tasks)
        root = next(i for i in range(len(tracer.spans) - 1, -1, -1)
                    if tracer.spans[i][0] == "constraints.test"
                    and tracer.spans[i][3] is None)
        record.op_details.append((
            check.kind, jobs,
            tracer.inclusive_under(root, "constraints.retrieve"),
            tracer.inclusive_under(root, "constraints.compare"),
        ))


class StreamingMonitor:
    """Events staged as ``inputs.STREAM_FILES`` parquet files, read with
    ``availableNow`` and ``maxFilesPerTrigger=1`` by two queries per
    pass: a ``StreamingConstraintMonitor`` requirement (two constraints,
    read through ``ExpressionDataSource``) on every micro-batch, then a
    watermarked 10-minute windowed count (stateful, checkpointed).  Each
    pass starts from fresh checkpoints; each micro-batch is one op."""

    NULL_LIMIT = 0.25
    WINDOW = "10 minutes"

    def __init__(self, paths, work):
        self.paths = paths
        self.units = 2 * inputs.STREAM_FILES
        self.work = work
        self.passes = 0

    def oracle(self, con) -> None:
        per_file = con.execute(
            "SELECT count(*) >= 1, 1 - count(value) / count(*) <= ? FROM "
            "read_parquet(?, filename = true) GROUP BY filename",
            [self.NULL_LIMIT, os.path.join(self.paths["stream"], "*.parquet")],
        ).fetchall()
        self.expected_batches = Counter(tuple(map(bool, r)) for r in per_file)
        self.expected_windows = dict(con.execute(
            "SELECT epoch_us(ts) // 600000000 * 600, count(*) "
            "FROM events GROUP BY 1").fetchall())

    def install(self, spark, tracer, jobs) -> None:
        self.tracer, self.jobs = tracer, jobs
        self.schema = spark.read.parquet(self.paths["stream"]).schema

    def _stream(self, spark):
        return (spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1).parquet(self.paths["stream"]))

    def run_pass(self, spark, record: Pass) -> None:
        from pyspark.sql import functions as F

        from datajudge_spark import WithinRequirement
        from datajudge_spark.streaming import (
            StreamingConstraintMonitor,
            windowed_counts,
        )

        def factory(batch_df):
            requirement = WithinRequirement.from_dataframe(batch_df, "events_batch")
            requirement.add_n_rows_min_constraint(1)
            requirement.add_max_null_fraction_constraint("value", self.NULL_LIMIT)
            return requirement

        self.passes += 1
        checkpoint = os.path.join(self.work, "checkpoints", str(self.passes))
        ends: list[float] = []

        def timed(process):
            def process_batch(batch_df, batch_id):
                process(batch_df, batch_id)
                ends.append(time.perf_counter())
            return process_batch

        windows: dict[int, int] = {}

        def collect(batch_df, batch_id):
            for window, n in batch_df.select(
                F.unix_timestamp("window_start"), "n_rows"
            ).collect():
                windows[window] = n
            ends.append(time.perf_counter())

        start = time.perf_counter()
        monitor = StreamingConstraintMonitor(factory)
        monitor._process_batch = timed(monitor._process_batch)
        query = (monitor.writer(self._stream(spark))
                 .option("checkpointLocation", f"{checkpoint}-monitor")
                 .trigger(availableNow=True).start())
        ops = self._await(query, start, ends)
        monitor_progress = query.recentProgress
        counts = windowed_counts(
            self._stream(spark).withColumn("event_ts", F.col("ts").cast("timestamp")),
            "event_ts", window_duration=self.WINDOW, watermark_delay="1 hour",
        )
        ends.clear()
        query = (counts.writeStream.outputMode("update").foreachBatch(collect)
                 .option("checkpointLocation", f"{checkpoint}-windows")
                 .trigger(availableNow=True).start())
        window_ops = self._await(query, time.perf_counter(), ends)
        record.ops += ops + window_ops

        outcomes = Counter(tuple(r.outcome for r in results)
                           for _, results in monitor.results)
        record.attempted += len(ops) + len(window_ops)
        record.failures += sum(not r.outcome for _, results in monitor.results
                               for r in results)
        if outcomes != self.expected_batches:
            print(f"mismatch: monitor outcomes {dict(outcomes)}, "
                  f"oracle {dict(self.expected_batches)}")
            record.failed += len(ops)
        if windows != self.expected_windows:
            print(f"mismatch: {len(windows)} windows / {sum(windows.values())} "
                  f"events, oracle {len(self.expected_windows)} / "
                  f"{sum(self.expected_windows.values())}")
            record.failed += len(window_ops)

        progress = monitor_progress + query.recentProgress
        record.stream = {
            "batches": len(progress),
            "batch_ms": statistics.median(
                p["durationMs"]["triggerExecution"] for p in progress),
            "state_rows": max(
                (op["numRowsTotal"] for p in query.recentProgress
                 for op in p["stateOperators"]), default=0),
        }
        if record.traced:
            with self.tracer.paused():
                jobs, stages, tasks = self.jobs.take()
            record.jobs.update(jobs=jobs, stages=stages, tasks=tasks)
            record.stream["jobs"] = jobs

    @staticmethod
    def _await(query, start, ends) -> list[float]:
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        marks = [start] + ends
        return [b - a for a, b in zip(marks, marks[1:])]


def measure(args, work: str, process_start: float) -> dict:
    tables = inputs.generate(args.seed, args.scale)
    paths = inputs.stage(tables, os.path.join(work, "data"))
    rows = {name: table.num_rows for name, table in tables.items()}
    del tables
    workload = Suite(args.workload, np.random.default_rng(args.seed), paths,
                     rows, work)

    oracle_start = time.perf_counter()
    with duckdb.connect() as con:
        for name, path in paths.items():
            if name != "stream":
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        workload.oracle(con)
    oracle_s = time.perf_counter() - oracle_start

    from datajudge_spark import get_spark
    from pyspark import SparkContext

    session_start = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - session_start
    jvm = SparkContext._gateway.proc
    try:
        spark.range(1).count()  # warm-up: the session's first job
        tracer = Tracer()
        jobs = JobCounter(spark) if args.trace else None
        if args.trace:
            tracer.install()
        workload.install(spark, tracer, jobs)
        setup_s = time.perf_counter() - process_start - oracle_s

        passes = [_timed_pass(workload, spark, tracer, Pass(traced=False))]
        first_op = time.perf_counter() - passes[0].wall
        while not _enough(passes, first_op, args):
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(_timed_pass(workload, spark, tracer, Pass(traced)))
        rss = peak_rss_mb([os.getpid(), jvm.pid])
    finally:
        _stop(spark, jvm)

    result = _end_to_end(passes, workload.units, setup_s, rss)
    if args.trace:
        result["metrics"] = _per_layer(passes, tracer, get_spark_s)
        _dump_spans(args, tracer)
    return result


def _timed_pass(workload, spark, tracer, record: Pass) -> Pass:
    tracer.pass_id += 1
    tracer.enabled = record.traced
    try:
        workload.run_pass(spark, record)
    finally:
        tracer.enabled = False
    return record


def _enough(passes, first_op, args) -> bool:
    warm = passes[1:]
    ops = sum(len(p.ops) for p in passes)
    if args.trace:
        # traced and untraced warm passes alternate; need both kinds
        return sum(p.traced for p in warm) >= 2 and len(warm) >= 3 and ops >= MIN_OPS
    return (len(warm) >= MIN_WARM_PASSES and ops >= MIN_OPS
            and time.perf_counter() - first_op >= args.seconds)


def _stop(spark, jvm) -> None:
    from pyspark import SparkContext

    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    jvm.stdin.close()  # the gateway JVM exits at end of its standard input
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def _end_to_end(passes, units, setup_s, rss) -> dict:
    warm = [p for p in passes[1:] if not p.traced]
    suite_s = statistics.median(p.wall for p in warm)
    ops = [t for p in passes for t in p.ops]
    # interpolated percentiles: steadier than nearest rank in the sparse tail
    centiles = statistics.quantiles(ops, n=100, method="inclusive")
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    values = {
        "setup_s": setup_s,
        "cold_suite_s": passes[0].wall,
        "suite_s": suite_s,
        "work_per_s": units / suite_s,
        "op_p50_ms": 1e3 * centiles[49],
        "op_p90_ms": 1e3 * centiles[89],
        "correct_frac": 1 - failed / attempted,
        "peak_rss_mb": rss,
    }
    return {
        "attempted": attempted, "failed": failed, "op_samples": len(ops),
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
    }


#: Per-layer metrics: name -> unit.  Times and counts are per traced warm
#: pass unless the name says per op.
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.get_df_calls": "count", "sources.get_df_s": "s",
    "reference.get_selection_calls": "count", "reference.get_selection_s": "s",
    "constraints.test_calls": "count", "constraints.self_s": "s",
    "constraints.retrieve_s": "s", "constraints.compare_s": "s",
    "constraints.failures": "count",
    "constraints.uniques_subset.retrieve_s": "s",
    "constraints.uniques_subset.compare_s": "s",
    "operators.calls": "count", "operators.s": "s",
    "operators.scalars.s": "s", "operators.uniques.s": "s",
    "operators.rows.s": "s", "operators.stats.s": "s",
    "plans.render_calls": "count", "plans.render_s": "s",
    "pipeline.text.s": "s", "pipeline.dedup.s": "s",
    "pipeline.similarity.s": "s", "pipeline.decontam.s": "s",
    "pipeline.sampling.s": "s",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.state_rows": "count", "streaming.monitor_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.jobs_per_op": "count", "spark.jobs_per_scalar_op": "count",
    "driver.py4j_calls": "count", "driver.py4j_calls_per_op": "count",
    "trace.overhead_s": "s", "trace.spans": "count",
}


def _per_layer(passes, tracer, get_spark_s) -> dict:
    traced = [p for p in passes if p.traced]
    ids = [i for i, p in enumerate(passes) if p.traced]
    n = len(traced)
    layers = tracer.layer_totals(ids)

    def layer(name, key):
        return layers.get(name, {}).get(key, 0.0) / n

    def prefixed(prefix):
        return sum(v["self"] for k, v in layers.items() if k.startswith(prefix)) / n

    def op_median(kind, index):
        values = [d[index] for p in traced for d in p.op_details
                  if d[0] == kind]
        return statistics.median(values) if values else 0.0

    ops = sum(len(p.ops) for p in traced)
    untraced = [p.wall for p in passes[1:] if not p.traced]
    stream = [p.stream for p in traced if p.stream]
    values = {
        "session.get_spark_s": get_spark_s,
        "sources.get_df_calls": layer("sources", "calls"),
        "sources.get_df_s": layer("sources", "total"),
        "reference.get_selection_calls": layer("reference", "calls"),
        "reference.get_selection_s": layer("reference", "self"),
        "constraints.test_calls": layer("constraints.test", "calls"),
        "constraints.self_s": prefixed("constraints."),
        "constraints.retrieve_s": layer("constraints.retrieve", "total"),
        "constraints.compare_s": layer("constraints.compare", "total"),
        "constraints.failures": sum(p.failures for p in traced) / n,
        "constraints.uniques_subset.retrieve_s": op_median("uniques_subset", 2),
        "constraints.uniques_subset.compare_s": op_median("uniques_subset", 3),
        "operators.calls": sum(v["calls"] for k, v in layers.items()
                               if k.startswith("operators.")) / n,
        "operators.s": prefixed("operators."),
        "operators.scalars.s": layer("operators.scalars", "self"),
        "operators.uniques.s": layer("operators.uniques", "self"),
        "operators.rows.s": layer("operators.rows", "self"),
        "operators.stats.s": layer("operators.stats", "self"),
        "plans.render_calls": layer("plans", "calls"),
        "plans.render_s": layer("plans", "total"),
        "pipeline.text.s": layer("pipeline.text", "self"),
        "pipeline.dedup.s": layer("pipeline.dedup", "self"),
        "pipeline.similarity.s": layer("pipeline.similarity", "self"),
        "pipeline.decontam.s": layer("pipeline.decontam", "self"),
        "pipeline.sampling.s": layer("pipeline.sampling", "self"),
        "streaming.batches": statistics.mean(s["batches"] for s in stream) if stream else 0.0,
        "streaming.batch_ms": statistics.median(s["batch_ms"] for s in stream) if stream else 0.0,
        "streaming.state_rows": max((s["state_rows"] for s in stream), default=0),
        "streaming.monitor_s": layer("streaming.monitor", "total"),
        "spark.jobs": sum(p.jobs["jobs"] for p in traced) / n,
        "spark.stages": sum(p.jobs["stages"] for p in traced) / n,
        "spark.tasks": sum(p.jobs["tasks"] for p in traced) / n,
        "spark.jobs_per_op": sum(p.jobs["jobs"] for p in traced) / ops,
        "spark.jobs_per_scalar_op": op_median("scalar", 1),
        "driver.py4j_calls": sum(tracer.py4j_calls[i] for i in ids) / n,
        "driver.py4j_calls_per_op": sum(tracer.py4j_calls[i] for i in ids) / ops,
        "trace.overhead_s": statistics.median(p.wall for p in traced)
        - statistics.median(untraced),
        "trace.spans": sum(1 for s in tracer.spans if s[4] in ids) / n,
    }
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in values.items()}


def _dump_spans(args, tracer) -> None:
    out = os.path.join(".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl")
    with open(path, "w") as f:
        for layer, start, end, parent, pass_id in tracer.spans:
            f.write(json.dumps({"layer": layer, "start": start, "end": end,
                                "parent": parent, "pass": pass_id}) + "\n")
