"""The three workloads: input, the engine calls they time, and their checks.

- ``batch_flagship``: the deployed transcript path. ``transcript_graph``
  gives the joinless triple path with no dedup, so the conv_id exchange of
  the binding and the partial aggregation carry the work.
- ``batch_reference_path``: the reference's own pipeline. The triples are
  split Extractor-style into a plain ``StreamGraph`` with no triples and no
  uniqueness hint, so the grouping's dedup shuffles and the two endpoint
  joins carry the work.
- ``stream_drain``: ``run_grouping_job`` in its default mode drains
  time-ordered chunk files one per trigger (a closed loop: the next chunk
  is handed over only after the previous micro-batch committed), so the
  state layers and per-batch fixed costs carry the work.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import reference
import sqlmetrics
import tracing

from graph_stream_zoomer_spark import (
    AvgProperty,
    Count,
    GroupingBuilder,
    MaxProperty,
    MinProperty,
    StreamGraph,
    StreamGraphConfig,
    SumProperty,
    WindowConfig,
    split_triples,
)
from graph_stream_zoomer_spark.sources.transcripts import transcript_graph, transcript_triples
from graph_stream_zoomer_spark.streaming import job as streaming_job
from graph_stream_zoomer_spark.streaming.sink import IdempotentParquetSink


def flagship_op():
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    return (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_vertex_aggregate_function(AvgProperty("text_len"))
        .add_edge_grouping_key(":label")
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )


def _reference_op():
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(60, "SECONDS"))
    b = GroupingBuilder().add_vertex_grouping_key(":label").add_vertex_grouping_key("tool")
    for a in (Count(), MinProperty("text_len"), MaxProperty("text_len"),
              SumProperty("text_len"), AvgProperty("text_len")):
        b.add_vertex_aggregate_function(a)
    b.add_edge_grouping_key(":label")
    b.add_edge_aggregate_function(Count()).add_edge_aggregate_function(AvgProperty("text_len"))
    return b.set_window_config(cfg.window).set_config(cfg).build()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scan(spark, reader, src: str, m: dict):
    """The scan layer: a noop read that also caches the input for the
    layers above; records the rows the scan produced."""
    t = reader.parquet(src).persist()
    _noop(t)
    m["spark.scan.rows"] = sqlmetrics.cache_build(spark, t).total(sqlmetrics.SCANS, "numOutputRows")
    return t


@dataclass
class Execution:
    """Outcome of one timed execution: wall time, the output-check errors,
    the streaming job's per-batch times and the CPU time of the timed body."""

    wall_s: float
    errors: list[str]
    batch_s: list[float] = field(default_factory=list)
    cpu_s: float = float("nan")


class BatchWorkload:
    """Read the parquet input, bind, group, and write both summaries."""

    warmup_runs = 3

    def __init__(self, num_convs: int, semantics: str, window_s: int, op, joinless: bool):
        self.num_convs, self.semantics = num_convs, semantics
        self.window_s, self.make_op, self.joinless = window_s, op, joinless

    def close(self) -> None:
        pass

    def prepare(self, spark, work: str, seed: int) -> None:
        self.work = work
        self.src = os.path.join(work, "input")
        table = gen.transcripts(seed, self.num_convs)
        self.turns = table.num_rows
        gen.write_table(table, self.src)
        self.reference = reference.Reference(self.src, self.semantics, self.window_s)
        self.cpu = tracing.ProcessCpu(spark)

    def _graph(self, t):
        if self.joinless:
            return transcript_graph(t, self.make_op().config)
        v, e = split_triples(transcript_triples(t))
        return StreamGraph(vertices=v, edges=e, config=self.make_op().config)

    def execute(self, spark) -> Execution:
        v_dir, e_dir = os.path.join(self.work, "out_v"), os.path.join(self.work, "out_e")
        c0, t0 = self.cpu(), time.perf_counter()
        out = self._graph(spark.read.parquet(self.src)).apply(self.make_op())
        out.vertices.write.mode("overwrite").parquet(v_dir)
        out.edges.write.mode("overwrite").parquet(e_dir)
        wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        errors = self.reference.check(*reference.read_batch_output(v_dir, e_dir))
        return Execution(wall, errors, cpu_s=cpu)

    def execute_traced(self, spark, tracer: tracing.Tracer) -> tuple[Execution, dict]:
        """One execution with each layer materialised on its own: the input
        is cached by the scan span, the binding output by the binding span,
        and the grouping runs over the cached binding output."""
        m: dict[str, float] = {}
        persisted = []
        try:
            t0 = time.perf_counter()
            with tracer.span("run"):
                with tracer.span("spark.scan"):
                    t = _scan(spark, spark.read, self.src, m)
                    persisted.append(t)
                with tracer.span("sources.transcripts"):
                    if self.joinless:
                        graph = transcript_graph(t, self.make_op().config)
                        frames = [graph.vertices, graph.triples]
                    else:
                        triples = transcript_triples(t)
                        frames = [triples]
                        v, e = split_triples(triples)
                        graph = StreamGraph(vertices=v, edges=e, config=self.make_op().config)
                    for f in frames:
                        persisted.append(f.persist())
                        _noop(f)
                with tracer.span("operators.grouping"):
                    out = graph.apply(self.make_op())
                    p0 = time.perf_counter()
                    out.vertices._jdf.queryExecution().executedPlan()
                    out.edges._jdf.queryExecution().executedPlan()
                    m["jvm.plan_s"] = time.perf_counter() - p0
                    v_tab, e_tab = out.vertices.toArrow(), out.edges.toArrow()
            wall = time.perf_counter() - t0

            binding = sqlmetrics.PlanMetrics()
            for f in frames:
                binding.nodes += sqlmetrics.cache_build(spark, f).nodes
            grouping = sqlmetrics.PlanMetrics()
            for df in (out.vertices, out.edges):
                grouping.nodes += sqlmetrics.executed(spark, df).nodes
            # the binding's conv_id exchanges belong to sources.transcripts
            # wherever they run; every other exchange to operators.grouping
            both = binding.nodes + grouping.nodes
            conv = sqlmetrics.PlanMetrics(both).exchanges("conv_id")
            rest = sqlmetrics.PlanMetrics(both).exchanges("conv_id", keyed=False)
            m["sources.transcripts.exchanges"] = len(conv)
            m["sources.transcripts.exchange_bytes"] = sum(n.metrics.get("dataSize", 0) for n in conv)
            m["sources.transcripts.sort_ms"] = binding.total(("SortExec",), "sortTime")
            m["operators.grouping.exchanges"] = len(rest)
            m["operators.grouping.exchange_bytes"] = sum(n.metrics.get("dataSize", 0) for n in rest)
            m["operators.grouping.agg_ms"] = grouping.total(
                ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"), "aggTime"
            )
            m["operators.grouping.joins"] = len(grouping.of(sqlmetrics.JOINS))
            m["operators.grouping.spill_bytes"] = grouping.spill_bytes()
            m["operators.grouping.rows_in"] = grouping.total(("InMemoryTableScanExec",), "numOutputRows")
            m["operators.grouping.rows_out"] = v_tab.num_rows + e_tab.num_rows
        finally:
            for df in persisted:
                df.unpersist(blocking=True)
        output = reference.batch_output(reference.arrow_rows(v_tab), reference.arrow_rows(e_tab))
        return Execution(wall, self.reference.check(*output)), m


class StreamWorkload:
    """Drain time-ordered chunk files through ``run_grouping_job``."""

    warmup_runs = 1
    window_s = 600
    V_AGGS, E_AGGS = ["count", "avg_text_len"], ["count"]

    def __init__(self, num_convs: int, chunks: int):
        self.num_convs, self.chunks = num_convs, chunks
        self.make_op = flagship_op

    def prepare(self, spark, work: str, seed: int) -> None:
        self.work = work
        self.src = os.path.join(work, "chunks")
        table = gen.transcripts(seed, self.num_convs)
        self.turns = table.num_rows
        gen.write_chunks(table, self.src, self.chunks)
        ref_src = os.path.join(work, "reference_input")
        gen.write_table(table, ref_src, files=1)
        self.reference = reference.Reference(ref_src, "stream", self.window_s)
        self.capture = tracing.StreamCapture(spark)
        self.cpu = tracing.ProcessCpu(spark)
        self.drains = 0

    def _drain(self, spark):
        out_root = os.path.join(self.work, f"drain{self.drains}")
        self.drains += 1
        stream = streaming_job.read_transcript_stream(spark, self.src, max_files_per_trigger=1)
        self.capture.drain()
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            result = streaming_job.run_grouping_job(spark, stream, self.make_op(), out_root)
        finally:
            for q in spark.streams.active:  # left running when the other query failed
                q.stop()
        wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        events = self.capture.drain()
        return out_root, result, wall, cpu, events

    def _finish(self, out_root: str, wall: float, cpu: float, events: list[dict]) -> Execution:
        errors = self.reference.check(*reference.read_sink_output(out_root, self.V_AGGS, self.E_AGGS))
        shutil.rmtree(out_root, ignore_errors=True)
        batch_s = [e["duration_ms"]["triggerExecution"] / 1000.0 for e in events if e["input_rows"] > 0]
        return Execution(wall, errors, batch_s, cpu)

    def execute(self, spark) -> Execution:
        out_root, _, wall, cpu, events = self._drain(spark)
        return self._finish(out_root, wall, cpu, events)

    def execute_traced(self, spark, tracer: tracing.Tracer) -> tuple[Execution, dict]:
        m: dict[str, float] = {}
        with tracer.span("spark.scan"):
            _scan(spark, spark.read.schema(streaming_job.TRANSCRIPT_DDL), self.src, m).unpersist()

        class TracedSink(IdempotentParquetSink):
            def __call__(self, batch, batch_id):
                with tracer.span("streaming.sink"):
                    super().__call__(batch, batch_id)

        # run_grouping_job builds its sinks from this module attribute
        streaming_job.IdempotentParquetSink = TracedSink
        try:
            with tracer.span("streaming.job") as rec:
                tracer.root = rec["id"]
                out_root, result, wall, cpu, events = self._drain(spark)
        finally:
            tracer.root = None
            streaming_job.IdempotentParquetSink = IdempotentParquetSink
        tracer.records += events
        m["streaming.binding.pairs_dropped_vs_batch"] = self.reference.pairs_dropped_vs_batch
        for layer, operator in (("binding", "symmetricHashJoin"), ("pipeline", "stateStoreSave")):
            peak_rows, peak_bytes = {}, {}
            for e in events:
                ops = [s for s in e["state"] if s["operator"] == operator]
                q = e["query"]
                peak_rows[q] = max(peak_rows.get(q, 0), sum(s["rows"] for s in ops))
                peak_bytes[q] = max(peak_bytes.get(q, 0), sum(s["bytes"] for s in ops))
            ops = [s for e in events for s in e["state"] if s["operator"] == operator]
            m[f"streaming.{layer}.state_rows_peak"] = sum(peak_rows.values())
            m[f"streaming.{layer}.state_bytes_peak"] = sum(peak_bytes.values())
            m[f"streaming.{layer}.commit_ms"] = sum(s["commit_ms"] for s in ops)
            m[f"streaming.{layer}.update_ms"] = sum(s["update_ms"] for s in ops)
            m[f"streaming.{layer}.dropped_late"] = sum(s["dropped_late"] for s in ops)
        phases = {"query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
                  "commit_offsets_s": "commitOffsets", "latest_offset_s": "latestOffset",
                  "add_batch_s": "addBatch"}
        m["streaming.job.batches"] = len(events)
        for key, phase in phases.items():
            m[f"streaming.job.{key}"] = sum(e["duration_ms"].get(phase, 0) for e in events) / 1000.0
        m["jvm.plan_s"] = m["streaming.job.query_planning_s"]
        sinks = (result.vertex_sink, result.edge_sink)
        m["streaming.sink.commits"] = sum(len(s.metrics.batches) for s in sinks)
        m["streaming.sink.rows"] = sum(b["rows"] for s in sinks for b in s.metrics.batches)
        return self._finish(out_root, wall, cpu, events), m

    def close(self) -> None:
        self.capture.close()


WORKLOADS = {
    "batch_flagship": lambda: BatchWorkload(33_000, "batch", 600, flagship_op, joinless=True),
    "batch_reference_path": lambda: BatchWorkload(
        3_300, "reference_path", 60, _reference_op, joinless=False
    ),
    "stream_drain": lambda: StreamWorkload(num_convs=4_000, chunks=2),
}
