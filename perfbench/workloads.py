"""The benchmark's workloads.

Each run is a closed loop with one client: a single Python process runs one
operation at a time and starts the next only after the previous one has
finished and its output has been checked. A workload

- ``prepare``s its inputs and expected outputs from the seed before Spark
  starts (untimed);
- runs its first pass, which is timed into ``setup_s``;
- then runs whole passes until ``seconds`` are used, keeping each
  operation's seconds in every pass. The end-to-end figures take each
  operation's median over those passes. There is no untimed priming: the
  JIT keeps compiling for most of the window, and a long window in which
  the warming passes are a steady share measured steadier, run to run,
  than a short one after a fixed priming count.

``small=True`` (the self-test) runs every pass at the smallest input size.

In a traced run untraced and traced passes alternate, so the tracing
overhead is measured in the same process; the per-layer numbers come from
the traced passes only.
"""

from __future__ import annotations

import math
import os
import random
import time
import traceback
from statistics import median

from checks import EtlExpectation, oracle_expectations, reference_rows
from inputs import write_etl_inputs, write_tables
from tracing import Tracer, job_group_stats, make_progress_listener, union_seconds

# Aggregation (q1, q6), a five-way join (q5), a sort-merge join, a ranked
# window and a session window: short queries whose time is mostly plan
# construction, planning and job scheduling.
RELATIONAL = [
    "q1_pricing_summary", "q5_region_revenue", "q6_forecast_revenue",
    "join_sort_merge", "topk_per_group", "window_session",
]
# The streaming operation of the same mix: the registry's TF-IDF state
# entry, run through run_tfidf_state_stream, whose time is mostly the fixed
# cost of each micro-batch.
STREAM = "streaming_tfidf_state"
ACCOUNTING_TOLERANCE = 0.05


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Workload:
    """Shared run loop and bookkeeping; subclasses define the operations."""

    name = ""

    def __init__(self, work: str, seed: int, small: bool) -> None:
        self.work, self.seed, self.small = work, seed, small
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = Tracer(False)
        self.traced_passes: list[dict] = []
        self.untraced_walls: list[float] = []
        self.traced_walls: list[float] = []
        self.op_walls: dict[str, list[float]] = {}

    # -- operation bookkeeping --------------------------------------------

    def record(self, op: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{op}: {error}")

    def guarded(self, op: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the benchmark reports, then goes on
            self.record(op, traceback.format_exc(limit=3).strip().splitlines()[-1])
            return None

    # -- run loop -----------------------------------------------------------

    def first_pass(self, spark) -> None:
        self.one_pass(spark)

    def after_first_pass(self, spark) -> None:
        """Untimed work between the first pass and the measured passes."""

    def measure(self, spark, seconds: float, traced: bool) -> None:
        for walls in self.op_walls.values():
            walls.clear()
        start = time.perf_counter()
        loop_walls: list[float] = []
        k = 0
        while True:
            self.tracer.enabled = traced and k % 2 == 1
            t = time.perf_counter()
            wall = self.one_pass(spark)
            loop_walls.append(time.perf_counter() - t)
            if wall is not None:
                (self.traced_walls if self.tracer.enabled else self.untraced_walls).append(wall)
            k += 1
            # Start another pass only if at least half of it fits, so the
            # window averages ``seconds`` and the pass count is stable; run
            # at least two, so no figure rests on one pass (and a traced run
            # has an untraced and a traced one).
            elapsed = time.perf_counter() - start
            if elapsed + median(loop_walls) / 2 > seconds and k >= 2:
                break
        self.tracer.enabled = False

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        if not self.untraced_walls:
            raise RuntimeError(f"no pass completed: {self.failures[:5]}")
        op_medians = [median(v) for v in self.op_walls.values() if v]
        wall = sum(op_medians)
        return {
            "wall_s": wall,
            "rows_per_s": self.input_rows / wall,
            "query_geomean_s": geomean(op_medians),
            "sec_per_batch": self.batch_seconds(wall),
        }

    def batch_seconds(self, wall: float) -> float:
        """Seconds per micro-batch; a batch pass is one batch."""
        return wall

    def per_layer_common(self) -> dict[str, float]:
        overhead = 0.0
        if self.traced_walls and self.untraced_walls:
            overhead = median(self.traced_walls) / median(self.untraced_walls) - 1.0
        return {"trace.overhead_share": overhead}

    input_rows = 1


def _exec_layer(stats: list, action_spans: list[tuple[float, float]]) -> dict[str, float]:
    """Per-pass exec-layer figures from the job-group stats of the pass's
    operations and the (start, end) of their action spans."""
    task_s = sum(s.task_s for s in stats)
    job_s = sum(s.job_s for s in stats)
    gap = sum(
        (e - b) - union_seconds(s.stage_intervals, b, e)
        for s, (b, e) in zip(stats, action_spans)
    )
    return {
        "exec.action_s": sum(e - b for b, e in action_spans),
        "exec.jobs": sum(s.jobs for s in stats),
        "exec.stages": sum(s.stages for s in stats),
        "exec.tasks": sum(s.tasks for s in stats),
        "exec.stage_gap_s": gap,
        "exec.job_s": job_s,
        "exec.task_s": task_s,
        "exec.cpu_s": sum(s.cpu_s for s in stats),
        "exec.gc_s": sum(s.gc_s for s in stats),
        "exec.parallelism": task_s / job_s if job_s > 0 else 0.0,
        "exec.task_skew": max((s.task_skew for s in stats), default=0.0),
        "exec.shuffle_read_mb": sum(s.shuffle_read_mb for s in stats),
        "exec.shuffle_write_mb": sum(s.shuffle_write_mb for s in stats),
        "exec.spill_mb": sum(s.spill_mb for s in stats),
        "exec.input_rows": sum(s.input_rows for s in stats),
        "exec.failed_tasks": sum(s.failed_tasks for s in stats),
    }


def _median_of(passes: list[dict], key: str) -> float:
    values = [p[key] for p in passes if key in p]
    return float(median(values)) if values else 0.0


# --- etl_fidelity --------------------------------------------------------------

class EtlFidelity(Workload):
    """The reference dataflow (sources -> fidelity -> multi-shard JSONL sink)
    on seeded fan-engagement lines."""

    name = "etl_fidelity"
    LINES, SMALL_LINES = 64_000, 3_200

    def prepare(self) -> None:
        n = self.SMALL_LINES if self.small else self.LINES
        self.inputs = write_etl_inputs(os.path.join(self.work, "etl"), self.seed, n)
        self.expect = EtlExpectation(reference_rows(*self.inputs))
        self.input_rows = n
        self.out_dir = os.path.join(self.work, "etl_out")
        self.op_walls = {"etl": []}
        self.kept_rows = None

    def _write(self, spark) -> tuple[float, int | None]:
        from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

        tr = self.tracer
        t = time.perf_counter()
        with tr.span("op") as op:
            with tr.span("fidelity.build"):
                df = build_fidelity_df(spark, *self.inputs)
            with tr.span("sink.write"):
                df.write.mode("overwrite").json(self.out_dir)
        return time.perf_counter() - t, op.idx

    def one_pass(self, spark) -> float | None:
        traced = self.tracer.enabled
        if traced:
            self.tracer.op += 1
            spark.sparkContext.setJobGroup(f"pb-{self.tracer.op}", "etl", False)
        r = self.guarded("etl", lambda: self._write(spark))
        if r is None:
            return None
        wall, op_idx = r
        self.record("etl", self.expect.check_dir(self.out_dir))
        if traced:
            self._layer_split(spark, wall, self.tracer.spans[op_idx])
        else:
            self.op_walls["etl"].append(wall)
        return wall

    def _layer_split(self, spark, wall: float, op) -> None:
        """Re-run the pipeline's parts into noop sinks to split the wall."""
        from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
            JSON_KEYS_COL,
            build_fidelity_df,
        )
        from pipeline_apache_beam_entrega1_cs_spark.schemas import FAN_ENGAGEMENT_SCHEMA
        from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim
        from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

        op_id = self.tracer.op
        stats = job_group_stats(spark, f"pb-{op_id}")
        glob_, csv_path = self.inputs
        sc = spark.sparkContext

        def noop(part: str, make) -> tuple[float, object]:
            group = f"pb-{op_id}-{part}"
            sc.setJobGroup(group, part, False)
            t = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t, job_group_stats(spark, group)

        scan_s, scan_stats = noop("scan", lambda: read_jsonl_dicts(
            spark, glob_, FAN_ENGAGEMENT_SCHEMA, keys_col=JSON_KEYS_COL))
        dim_s, _ = noop("dim", lambda: read_country_dim(spark, csv_path))
        full_s, _ = noop("noop", lambda: build_fidelity_df(spark, glob_, csv_path))
        files = [f for f in os.listdir(self.out_dir) if f.startswith("part-")]
        self.traced_passes.append({
            "wall": wall,
            "sources.scan_s": scan_s,
            "sources.dim_s": dim_s,
            "sources.lines_read": scan_stats.input_rows,
            "fidelity.transform_s": full_s - scan_s,
            "sink.write_s": wall - full_s,
            "sink.mb": sum(os.path.getsize(os.path.join(self.out_dir, f)) for f in files) / 1e6,
            "sink.files": len(files),
            **_exec_layer([stats], [(op.start, op.end)]),
        })
        if self.kept_rows is None:
            sc.setJobGroup("pb-count", "count", False)
            self.kept_rows = read_jsonl_dicts(spark, glob_, FAN_ENGAGEMENT_SCHEMA).count()

    def per_layer(self) -> dict[str, float]:
        p = self.traced_passes
        out = {k: _median_of(p, k) for k in p[0] if k not in ("wall", "sources.lines_read")}
        lines = _median_of(p, "sources.lines_read")
        out["sources.kept_ratio"] = self.kept_rows / lines if lines else 0.0
        return out


# --- query_relational ------------------------------------------------------------

class QueryRelational(Workload):
    """Registry queries (QuerySpec.fn + collect) and the TF-IDF state
    stream (run_tfidf_state_stream through the exactly-once merge sink),
    each checked against its DuckDB oracle, in a seed-fixed order within
    every pass."""

    name = "query_relational"
    names = RELATIONAL + [STREAM]
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")
    SF, SMALL_SF = 0.01, 0.001
    DOCS, SMALL_DOCS, BATCHES = 2000, 200, 4

    def prepare(self) -> None:
        from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries

        registry = all_queries()
        self.specs = {n: registry[n] for n in self.names}
        self.order = list(self.names)
        random.Random(self.seed).shuffle(self.order)
        self.dir = write_tables(os.path.join(self.work, "tables"), self.seed, self.TABLES,
                                self.SMALL_SF if self.small else self.SF,
                                n_docs=self.SMALL_DOCS if self.small else self.DOCS)
        self.expect = oracle_expectations(self.dir, {n: s.oracle for n, s in self.specs.items()})
        import pyarrow.parquet as pq

        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.dir, f)).metadata.num_rows
            for f in os.listdir(self.dir)
        )
        self.op_walls = {n: [] for n in self.order}

    def batch_seconds(self, wall: float) -> float:
        return median(self.op_walls[STREAM]) / self.BATCHES

    def _query(self, spark, name: str) -> dict | None:
        tr = self.tracer
        traced = tr.enabled
        if traced:
            tr.op += 1
            group = f"pb-{tr.op}"
            spark.sparkContext.setJobGroup(group, name, False)
        t0 = time.perf_counter()
        with tr.span("op") as op_span:
            with tr.span("plans.build") as b:
                df = self.specs[name].fn(spark, self.dir)
            t1 = time.perf_counter()
            if traced:
                with tr.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec.action") as a:
                rows = df.collect()
        t2 = time.perf_counter()
        error = self.expect[name].check(df.columns, [tuple(r) for r in rows])
        out = {"wall": t2 - t0, "build": t1 - t0}
        if traced:
            spans = tr.spans
            parts = tr.children(op_span.idx)
            op = spans[op_span.idx]
            out["parts"] = parts
            out["gap_share"] = tr.self_seconds(op_span.idx) / op.seconds
            out["wall"], out["build"] = op.seconds, parts["plans.build"]
            out["stats"] = job_group_stats(spark, group)
            out["action_span"] = (spans[a.idx].start, spans[a.idx].end)
            out["build_jobs"] = sum(1 for s, _ in out["stats"].job_intervals
                                    if s < spans[b.idx].end)
            if error is None and out["gap_share"] > ACCOUNTING_TOLERANCE:
                error = f"traced parts cover {1 - out['gap_share']:.1%} of the wall"
        self.record(name, error)
        return out

    def _stream(self, spark) -> dict | None:
        from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import run_tfidf_state_stream

        traced = self.tracer.enabled
        if traced:
            self.tracer.op += 1
            spark.sparkContext.setJobGroup(f"pb-{self.tracer.op}", STREAM, False)
            listener = make_progress_listener()
            spark.streams.addListener(listener)
        try:
            t = time.perf_counter()
            with self.tracer.span("streaming.run"):
                df = run_tfidf_state_stream(spark, self.dir, n_batches=self.BATCHES)
                rows = [tuple(r) for r in df.collect()]
            wall = time.perf_counter() - t
        finally:
            if traced:
                batches = listener.drain(expect_terminated=1)
                spark.streams.removeListener(listener)
        self.record(STREAM, self.expect[STREAM].check(df.columns, rows))
        out = {"wall": wall}
        if traced:
            trigger = sum(b.get("triggerExecution", 0) for b in batches) / 1e3
            out["layers"] = {
                "streaming.batches": len(batches),
                "streaming.trigger_s": trigger,
                "streaming.add_batch_s": sum(b.get("addBatch", 0) for b in batches) / 1e3,
                "streaming.planning_s": sum(b.get("queryPlanning", 0) for b in batches) / 1e3,
                "streaming.wal_s": sum(b.get("walCommit", 0) + b.get("commitOffsets", 0)
                                       for b in batches) / 1e3,
                "streaming.offsets_s": sum(b.get("latestOffset", 0) + b.get("getBatch", 0)
                                           for b in batches) / 1e3,
                "streaming.outside_s": wall - trigger,
                "streaming.state_rows": len(rows),
            }
        return out

    def one_pass(self, spark) -> float | None:
        traced = self.tracer.enabled
        results = {}
        for name in self.order:
            run = (lambda: self._stream(spark)) if name == STREAM else \
                (lambda: self._query(spark, name))
            r = self.guarded(name, run)
            if r is None:
                return None
            results[name] = r
        if traced:
            self._collect_layers(results)
        else:
            for name, r in results.items():
                self.op_walls[name].append(r["wall"])
        return sum(r["wall"] for r in results.values())

    def _collect_layers(self, results: dict) -> None:
        """Plans and exec figures from the queries, streaming figures from
        the stream."""
        stream = results[STREAM]
        queries = {n: r for n, r in results.items() if n != STREAM}
        wall = sum(r["wall"] for r in queries.values())
        build = sum(r["build"] for r in queries.values())
        row = {
            "plans.build_s": build,
            "plans.build_jobs": sum(r["build_jobs"] for r in queries.values()),
            "plans.build_share": build / wall,
            "plans.plan_s": sum(r["parts"].get("plans.plan", 0.0) for r in queries.values()),
            "trace.accounting_gap_share": max(r["gap_share"] for r in queries.values()),
            **_exec_layer([r["stats"] for r in queries.values()],
                          [r["action_span"] for r in queries.values()]),
            **stream["layers"],
        }
        for name, r in queries.items():
            row[f"query.{name}.wall_s"] = r["wall"]
            row[f"query.{name}.build_s"] = r["build"]
        self.traced_passes.append(row)

    def per_layer(self) -> dict[str, float]:
        p = self.traced_passes
        return {k: _median_of(p, k) for k in p[0]}


WORKLOADS = {w.name: w for w in (EtlFidelity, QueryRelational)}
