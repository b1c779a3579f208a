"""Transcript generator + graph binding invariants (BASELINE.json
input_hint: per-turn text equality under stable turn ordering)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark import (
    AvgProperty,
    Count,
    MaxProperty,
    MinProperty,
    StreamGraph,
    StreamGraphConfig,
    SumProperty,
    WindowConfig,
    split_triples,
)
from graph_stream_zoomer_spark.functions.properties import extract_property
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.transcripts import (
    generate_transcripts,
    transcript_graph,
    transcript_triples,
    transcript_vertices,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, 100).cache()


def test_schema_matches_input_hint(transcripts):
    assert [(f.name, f.dataType.simpleString()) for f in transcripts.schema.fields] == [
        ("conv_id", "string"),
        ("turn_idx", "int"),
        ("role", "string"),
        ("text", "string"),
        ("tool", "string"),
        ("ts", "timestamp"),
    ]


def test_deterministic_regeneration(spark, transcripts):
    """Same (seed, n) → byte-identical data: any partition can be
    regenerated anywhere (lineage-friendly)."""
    again = generate_transcripts(spark, 100)
    assert transcripts.exceptAll(again).count() == 0
    assert again.exceptAll(transcripts).count() == 0


def test_turn_ordering_and_text_equality(transcripts):
    """Stable turn ordering: ts strictly monotone within a conversation for
    non-late rows; text embeds (conv_id, turn_idx, role) for per-turn text
    equality checks."""
    rows = transcripts.where(F.col("conv_id") == "c00000050").orderBy("turn_idx").collect()
    assert [r["turn_idx"] for r in rows] == list(range(len(rows)))
    assert rows[0]["role"] == "user"
    for r in rows:
        assert r["text"].startswith(f"{r['conv_id']}:{r['turn_idx']}:{r['role']}:")


def test_roles_and_tools(transcripts):
    roles = {r["role"] for r in transcripts.select("role").distinct().collect()}
    assert roles <= {"user", "assistant", "tool"}
    tools = {
        r["tool"]
        for r in transcripts.where("role = 'tool'").select("tool").distinct().collect()
    }
    assert tools <= {"search", "python", "browser"}
    assert (
        transcripts.where("role <> 'tool' and tool <> ''").count() == 0
    )


def test_skew_knob(transcripts):
    counts = (
        transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).limit(1).collect()
    )
    # first conv is skewed: 10× base turns
    assert counts[0]["conv_id"] == "c00000000"
    assert counts[0]["count"] >= 20


def test_triples_binding(transcripts):
    triples = transcript_triples(transcripts)
    n_turns = transcripts.count()
    n_convs = transcripts.select("conv_id").distinct().count()
    assert triples.count() == n_turns - n_convs  # one edge per consecutive pair
    r = triples.where(F.col("source.vertex_id") == "c00000050:0").collect()[0]
    assert r["target"]["vertex_id"] == "c00000050:1"
    assert r["edge_label"].startswith("user->")
    assert r["edge_properties"]["text_len"] is not None
    assert r["source"]["vertex_properties"]["hour_bucket"] is not None


def test_group_by_role_count(transcripts):
    """Flagship semantics: group turns by role over 1-minute tumbling
    windows, count + avg text_len; compare against a plain SQL oracle."""
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(60, "SECONDS"))
    graph = transcript_graph(transcripts, cfg)
    op = (
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
    result = graph.apply(op)
    got = {
        (r["vertex_label"], r["event_time"]): int(r["vertex_properties"]["count"])
        for r in result.vertices.collect()
    }
    # oracle: dedup (vertex observed once per incident edge) then count per
    # (role, window). A turn is an endpoint of ≤2 edges; unique turns that
    # appear in any triple = all turns of convs with ≥2 turns.
    t = transcripts
    deduped = (
        transcript_vertices(t)
        .join(
            t.groupBy("conv_id").count().where("count >= 2").select("conv_id"),
            F.split(F.col("vertex_id"), ":")[0] == F.col("conv_id"),
            "inner",
        )
        .select(
            "vertex_label",
            F.window("event_time", "60 seconds").alias("w"),
            "vertex_id",
        )
        .distinct()
    )
    expected = {
        (r["vertex_label"], r["rowtime"]): r["cnt"]
        for r in deduped.groupBy("vertex_label", "w")
        .agg(F.count("*").alias("cnt"))
        .select(
            "vertex_label",
            F.expr("w.end - interval 1 millisecond").alias("rowtime"),
            "cnt",
        )
        .collect()
    }
    assert got == expected
    for r in result.vertices.collect():
        assert float(r["vertex_properties"]["avg_text_len"]) > 0


def _property_op(cfg):
    """A grouping that reads property values: vertex keys tool and
    hour_bucket with every numeric aggregate over text_len, edge label with
    Count and Avg over text_len."""
    b = GroupingBuilder().add_vertex_grouping_keys(["tool", "hour_bucket"])
    for a in (Count(), MinProperty("text_len"), MaxProperty("text_len"),
              SumProperty("text_len"), AvgProperty("text_len")):
        b.add_vertex_aggregate_function(a)
    b.add_edge_grouping_key(":label")
    b.add_edge_aggregate_function(Count()).add_edge_aggregate_function(AvgProperty("text_len"))
    return b.set_window_config(cfg.window).set_config(cfg).build()


def _rows(df, id_col, *cols):
    props = id_col.replace("_id", "_properties")
    return sorted(
        (r[id_col], *(r[c] for c in cols), tuple(sorted(r[props].items())))
        for r in df.collect()
    )


@pytest.mark.parametrize("use_arrow", [False, True])
def test_property_grouping_matches_split_triples_path(transcripts, use_arrow):
    """The pruned flagship binding (transcript_graph: folded property
    lookups, slim conv_id shuffles) gives the same rows as the reference
    path, which splits full triples into a plain StreamGraph and carries
    whole property bags through its dedup and endpoint joins.

    Vertex summaries agree row for row. The join path keeps an edge only
    when its source turn lies in the edge's window, while the triple path
    stamps both endpoints with the edge's window; so edge summaries agree
    over the window-aligned triples, and the full triple path counts
    exactly the crossing edges on top."""
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(60, "SECONDS"))
    op = _property_op(cfg)
    fast = transcript_graph(transcripts, cfg, use_arrow=use_arrow)
    v, e = split_triples(transcript_triples(transcripts, use_arrow=use_arrow))
    ref = StreamGraph(vertices=v, edges=e, config=cfg).apply(op)

    ref_v = _rows(ref.vertices, "vertex_id", "vertex_label", "event_time")
    assert ref_v and all("sum_text_len" in dict(r[-1]) for r in ref_v)
    assert _rows(fast.apply(op).vertices, "vertex_id", "vertex_label", "event_time") == ref_v

    def minute(c):
        return F.floor(F.unix_seconds(F.col(c)) / 60)

    aligned = minute("source.event_time") == minute("event_time")
    edge_cols = ("edge_label", "event_time", "source_id", "target_id")
    aligned_out = replace(fast, triples=fast.triples.where(aligned)).apply(op)
    ref_e = _rows(ref.edges, "edge_id", *edge_cols)
    assert _rows(aligned_out.edges, "edge_id", *edge_cols) == ref_e

    def total(edges):
        return sum(int(r["edge_properties"]["count"]) for r in edges.collect())

    crossing = fast.triples.where(~aligned).count()
    assert crossing > 0
    assert total(fast.apply(op).edges) == total(ref.edges) + crossing


def test_extract_property_missing_key_is_null(spark):
    """A key the bag lacks reads as NULL, also under ANSI mode, both for a
    stored map and for a create_map bag whose lookup the optimizer folds."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        bags = spark.createDataFrame(
            [({"tool": "search"}, "search"), (None, "python")], "p map<string,string>, tool string"
        )
        built = F.create_map(F.lit("tool"), F.col("tool"))
        rows = bags.select(
            extract_property("p", "tool").alias("tool"),
            extract_property("p", "text_len").alias("missing"),
            extract_property(built, "tool").alias("built_tool"),
            extract_property(built, "text_len").alias("built_missing"),
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [tuple(r) for r in rows] == [
        ("search", None, "search", None),
        (None, None, "python", None),
    ]
