"""Transcript input binding (BASELINE.json input_hint) + deterministic
synthetic transcript generator.

Input table shape: ``(conv_id:string, turn_idx:int, role:string,
text:string, tool:string, ts:timestamp)`` — an Iceberg table in production,
parquet in this sandbox (see sources/iceberg.py for the gated adapter).

Graph binding (SURVEY.md §1.4): vertex = turn, edge = successor edge between
consecutive turns of one conversation; each successor edge plus its two
endpoint turns is a StreamTriple, which feeds the joinless triple fast path
of the grouping operator.

Generator design for 100 TB scale: rows are synthesized *distributively*
from ``spark.range`` with pure column expressions — no driver-side loops, no
runtime randomness (every value derives from xxhash64 of (conv_id,
turn_idx)), so any worker can regenerate any partition independently and the
same (seed, n) always yields byte-identical data (FIXTURES.md §2 spec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import StreamGraphConfig
from ..model import StreamGraph
from ..functions.text import pdf_text_len

FILLER = "the quick brown fox jumps over the lazy dog and then it stops to think "
BASE_EPOCH = 1735689600  # 2025-01-01 00:00:00 UTC


def _h(*cols: Column, seed: int = 42) -> Column:
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def generate_transcripts(
    spark: SparkSession,
    num_convs: int,
    *,
    late_fraction_pct: int = 1,
    skew: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic transcripts, mean ≈9 turns/conversation.

    ``skew``: the first 0.1% of conv_ids get 10× turns and a hot role —
    exercises the salted aggregation path. ``late_fraction_pct``% of turns
    get ts lagged 15 s (1.5× the default watermark) to exercise late-data
    drops.
    """
    convs = spark.range(0, num_convs, 1, num_partitions or spark.sparkContext.defaultParallelism)
    n_skewed = max(1, num_convs // 1000) if skew else 0
    convs = convs.select(
        F.col("id").alias("conv_i"),
        F.format_string("c%08d", F.col("id")).alias("conv_id"),
        (F.lit(2) + F.pmod(_h(F.col("id")), F.lit(15))).alias("_base_turns"),
        (F.col("id") < n_skewed).alias("_skewed"),
    ).withColumn(
        "n_turns",
        F.when(F.col("_skewed"), F.least(F.col("_base_turns") * 10, F.lit(160))).otherwise(
            F.col("_base_turns")
        ),
    )
    turns = convs.select(
        "conv_i",
        "conv_id",
        "_skewed",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    th = _h(F.col("conv_i"), F.col("turn_idx"))
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("user"))
        .when(F.col("_skewed"), F.lit("assistant"))
        .when(F.pmod(F.col("turn_idx"), F.lit(2)) == 1, F.lit("assistant"))
        .when(F.pmod(th, F.lit(3)) == 0, F.lit("tool"))
        .otherwise(F.lit("user"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("search"), F.lit("python"), F.lit("browser")),
            (F.pmod(th, F.lit(3)) + 1).cast("int"),
        ),
    ).otherwise(F.lit(""))
    text_len = F.lit(20) + F.pmod(th, F.lit(381))
    text = F.concat(
        F.col("conv_id"),
        F.lit(":"),
        F.col("turn_idx").cast("string"),
        F.lit(":"),
        role,
        F.lit(":"),
        F.substring(F.repeat(F.lit(FILLER), 6), 1, 400).substr(F.lit(1), text_len),
    )
    # monotone within a conversation: offset ∈ [31·t, 31·t+29]; the next
    # turn starts at 31·(t+1) > 31·t+29
    offset_s = F.col("turn_idx") * 31 + F.pmod(th, F.lit(30))
    late = F.pmod(_h(F.col("conv_i"), F.col("turn_idx"), seed=777), F.lit(100)) < late_fraction_pct
    ts_s = (
        F.lit(BASE_EPOCH)
        + F.pmod(_h(F.col("conv_i")), F.lit(86_400))
        + offset_s
        - F.when(late & (F.col("turn_idx") > 0), F.lit(15)).otherwise(F.lit(0))
    )
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(ts_s).alias("ts"),
    )


# ---------------------------------------------------------------------------
# transcript → property-graph binding
# ---------------------------------------------------------------------------

def _slim(turns: DataFrame, use_arrow: bool = False) -> DataFrame:
    """Project turns down to what the property bags read, BEFORE any
    conv_id exchange or stateful operator: the raw ``text`` payload
    dominates row bytes but only its length survives into the properties.
    Batch: both conv_id shuffles then carry ``text_len`` instead of
    ``text``. Streaming: Catalyst does not prune columns through state
    stores, so without this every buffered row of the successor join would
    be serialized to the state store with its payload, per micro-batch.
    ``use_arrow`` computes the length with the Arrow pandas UDF (A+B axis),
    still ahead of the shuffle."""
    text = F.col("text")
    text_len = pdf_text_len(text) if use_arrow else F.length(text)
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        text_len.cast("int").alias("text_len"),
    )


def turn_properties(prefix: str = "", **extra: Column) -> Column:
    """Property bag of one slim turn: tool, text_len, hour bucket, plus
    ``extra`` entries (the edge's ``transition``).

    Built with ``create_map`` so a literal-key lookup
    (``functions.properties.extract_property``) folds to the one value it
    reads (SimplifyExtractValueOps); Catalyst then prunes every entry a
    grouping does not read, and the columns that feed them."""
    entries = {
        "tool": F.col(f"{prefix}tool"),
        "text_len": F.col(f"{prefix}text_len").cast("string"),
        "hour_bucket": F.date_format(F.col(f"{prefix}ts"), "yyyy-MM-dd HH"),
        **extra,
    }
    return F.create_map(*[c for k, v in entries.items() for c in (F.lit(k), v)])


def _vertex_id(prefix: str = "", conv_id: str = "conv_id") -> Column:
    return F.concat_ws(":", conv_id, F.col(f"{prefix}turn_idx").cast("string"))


def _vertex_struct(prefix: str, conv_id: str = "conv_id") -> Column:
    """A triple's inlined endpoint vertex, from slim columns ``prefix*``."""
    return F.struct(
        _vertex_id(prefix, conv_id).alias("vertex_id"),
        F.col(f"{prefix}role").alias("vertex_label"),
        turn_properties(prefix).alias("vertex_properties"),
        F.col(f"{prefix}ts").alias("event_time"),
    )


def _vertex_rows(slim: DataFrame) -> DataFrame:
    return slim.select(
        _vertex_id().alias("vertex_id"),
        F.col("ts").alias("event_time"),
        F.col("role").alias("vertex_label"),
        turn_properties().alias("vertex_properties"),
    )


def transcript_vertices(t: DataFrame, use_arrow: bool = False) -> DataFrame:
    """vertex_id = conv_id:turn_idx, label = role (SURVEY.md §1.4)."""
    return _vertex_rows(_slim(t, use_arrow))


def transcript_triples(t: DataFrame, use_arrow: bool = False) -> DataFrame:
    """Successor triples via a single pass: lead() over (conv_id, turn_idx).

    One analytic-window shuffle partitioned by conv_id over the slim turn
    rows (no ``text``). Each triple inlines both endpoint vertices as
    structs, so the grouping operator's joinless fast path applies; the
    structs and property bags are plain expressions over the lead() output,
    so Catalyst computes and shuffles only the fields a grouping reads.
    Batch form — the streaming form uses a watermarked self-join
    (streaming/binding.py).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cols = ("turn_idx", "role", "tool", "ts", "text_len")
    nxt = _slim(t, use_arrow).select(
        "conv_id", *cols, *[F.lead(c).over(w).alias(f"n_{c}") for c in cols]
    ).where(F.col("n_turn_idx").isNotNull())

    transition = F.concat_ws("->", "role", "n_role")
    return nxt.select(
        F.concat(_vertex_id(), F.lit("->"), F.col("n_turn_idx").cast("string")).alias("edge_id"),
        F.col("n_ts").alias("event_time"),
        transition.alias("edge_label"),
        turn_properties("n_", transition=transition).alias("edge_properties"),
        _vertex_struct("").alias("source"),
        _vertex_struct("n_").alias("target"),
    )


def transcript_graph_vertices(t: DataFrame, use_arrow: bool = False) -> DataFrame:
    """Vertex stream derived in ONE pass over the turns table: the set of
    triple endpoints = every turn of a conversation with ≥2 turns, each
    exactly once. The count-over-conversation window shuffles the slim turn
    rows by conv_id (``text_len``, never ``text``; columns no grouping
    reads are pruned before the exchange). Splitting the triple stream
    instead (Extractor-style, split_triples) would duplicate the whole
    upstream subplan per endpoint projection AND emit each interior turn
    twice — two full extra scans + a dedup shuffle at 100 TB."""
    w = Window.partitionBy("conv_id")
    return (
        _slim(t, use_arrow)
        .withColumn("_conv_turns", F.count(F.lit(1)).over(w))
        .where(F.col("_conv_turns") >= 2)
        .transform(_vertex_rows)
    )


def transcript_graph(
    t: DataFrame, config: StreamGraphConfig | None = None, use_arrow: bool = False
) -> StreamGraph:
    """Transcript turns → StreamGraph with the single-pass vertex stream,
    the triple stream for the joinless edge path, and the uniqueness hint
    that lets the grouping operator skip both dedup shuffles."""
    config = config or StreamGraphConfig()
    triples = transcript_triples(t, use_arrow=use_arrow)
    vertices = transcript_graph_vertices(t, use_arrow=use_arrow)
    edges = triples.select(
        "edge_id",
        "edge_label",
        "edge_properties",
        F.col("source.vertex_id").alias("source_id"),
        F.col("target.vertex_id").alias("target_id"),
        "event_time",
    )
    return StreamGraph(
        vertices=vertices, edges=edges, config=config, triples=triples, elements_unique=True
    )
