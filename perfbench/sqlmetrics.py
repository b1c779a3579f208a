"""AQE-aware walker over a Dataset's executed physical plan.

After a Dataset ran, its ``executedPlan()`` is an ``AdaptiveSparkPlanExec``
whose ``finalPhysicalPlan()`` holds the plan that actually ran. Shuffles
sit inside query stages (``.plan()``) and reused exchanges point at their
original (``.child()``); a cached relation keeps the plan that built it in
``relation().cachedPlan()``. The walker visits each physical node once
and returns its SQL metrics as plain numbers: counts, bytes, and
milliseconds for timings.
"""

from __future__ import annotations

from dataclasses import dataclass, field

EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
JOINS = (
    "SortMergeJoinExec",
    "BroadcastHashJoinExec",
    "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
)
SCANS = ("FileSourceScanExec", "BatchScanExec")


@dataclass
class Node:
    name: str
    metrics: dict[str, int]
    partitioning: str = ""


@dataclass
class PlanMetrics:
    nodes: list[Node] = field(default_factory=list)
    # py4j handles of the plans that built the cached relations this plan reads
    cache_plans: list = field(default_factory=list)

    def of(self, names) -> list[Node]:
        return [n for n in self.nodes if n.name in names]

    def total(self, names, metric: str) -> int:
        return sum(n.metrics.get(metric, 0) for n in self.of(names))

    def exchanges(self, keyed_on: str | None = None, keyed: bool = True) -> list[Node]:
        """Exchanges whose partitioning names ``keyed_on`` (``keyed``), or
        does not (``keyed=False``)."""
        ex = self.of(EXCHANGES)
        if keyed_on is None:
            return ex
        return [n for n in ex if (keyed_on in n.partitioning) == keyed]

    def spill_bytes(self) -> int:
        return sum(n.metrics.get("spillSize", 0) for n in self.nodes)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def walk(spark, jplan) -> PlanMetrics:
    """Collect the metrics of every node under ``jplan`` (a py4j SparkPlan).
    Plans that built cached relations are listed, not walked."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out, seen, stack = PlanMetrics(), set(), [jplan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if node.id() in seen:
            continue
        seen.add(node.id())
        metrics = {k: int(m.value()) for k, m in conv.asJava(node.metrics()).items()}
        part = node.outputPartitioning().toString() if name in EXCHANGES else ""
        out.nodes.append(Node(name, metrics, part))
        if name == "InMemoryTableScanExec":
            out.cache_plans.append(node.relation().cachedPlan())
        stack.extend(_seq(node.children()))
    return out


def executed(spark, df) -> PlanMetrics:
    """Metrics of the plan ``df`` ran with (call after an action on ``df``)."""
    return walk(spark, df._jdf.queryExecution().executedPlan())


def cache_build(spark, df) -> PlanMetrics:
    """Metrics of the plan that built the cache of the persisted ``df``
    (call after the cache was materialised)."""
    (plan,) = executed(spark, df).cache_plans
    return walk(spark, plan)


def self_test(spark, work: str) -> list[str]:
    """Walk the plan of a tiny flagship run: the scan rows must equal the
    input rows, and at least one exchange must be found."""
    import os

    import gen
    from graph_stream_zoomer_spark.sources.transcripts import transcript_graph
    from workloads import flagship_op

    src = os.path.join(work, "selftest_input")
    table = gen.transcripts(0, 40)
    gen.write_table(table, src, files=2)
    out = transcript_graph(spark.read.parquet(src)).apply(flagship_op())
    out.vertices.toArrow()
    plan = executed(spark, out.vertices)
    errors = []
    scans = plan.of(SCANS)
    if not scans or any(n.metrics.get("numOutputRows") != table.num_rows for n in scans):
        rows = [n.metrics.get("numOutputRows") for n in scans]
        errors.append(f"walker self-test: scan rows {rows}, input rows {table.num_rows}")
    if not plan.exchanges():
        errors.append("walker self-test: no exchange found")
    return errors
