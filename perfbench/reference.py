"""DuckDB references for the three workloads, and the output check.

Each reference is computed from the same parquet input the engine reads,
with plain SQL that restates the workload's semantics:

- ``batch``: every turn of a conversation with at least 2 turns is a
  vertex; every pair of consecutive turns is a successor edge stamped with
  the later turn's time. Edge endpoints are the super-vertices of the
  endpoint labels in the edge's window (the joinless triple path).
- ``reference_path``: as ``batch``, but the endpoints go through the
  window-aligned endpoint joins, so an edge survives only when its source
  turn lies in the edge's window.
- ``stream``: the successor join keeps a pair only when
  0 <= later ts - earlier ts <= max_turn_gap; turn 0 is a vertex only when
  it has such a successor.

Super-element ids are recomputed here with ``hashlib`` from the grouping
values and the window's emission time (window end - 1 ms).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

MAX_TURN_GAP_S = 3600
# the flush conversation's windows never close; everything before is real
FLUSH_EPOCH_MS = 1861920000000  # 2029-01-01 00:00:00 UTC


def _sha1(*fields) -> str:
    return hashlib.sha1(".".join(str(f) for f in fields).encode()).hexdigest()


def _pairs_sql(src: str) -> str:
    return f"""
    WITH t AS (
        SELECT conv_id, turn_idx, role, tool, length(text) AS tl, epoch(ts)::BIGINT AS s
        FROM read_parquet('{src}/*.parquet')
    )
    SELECT * FROM (
        SELECT conv_id, turn_idx, role, tool, tl, s,
               lead(turn_idx) OVER w AS n_idx, lead(role) OVER w AS n_role,
               lead(tool) OVER w AS n_tool, lead(tl) OVER w AS n_tl, lead(s) OVER w AS n_s
        FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    )
    """


class Reference:
    """Expected super-vertices and super-edges of one workload.

    ``vertices``: {id: (label, event_time_ms, {aggregate: value})};
    ``edges``: {id: (label, event_time_ms, {aggregate: value}, source, target)}.
    """

    def __init__(self, src: str, semantics: str, window_s: int):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE TEMP TABLE p AS {_pairs_sql(src)}")
        # successor pairs that lead() yields but the streaming join drops
        self.pairs_dropped_vs_batch = con.execute(
            f"""SELECT count(*) FROM p WHERE n_idx IS NOT NULL
                AND NOT (n_s - s BETWEEN 0 AND {MAX_TURN_GAP_S})"""
        ).fetchone()[0]
        w = window_s
        if semantics == "stream":
            v_where = f"""turn_idx >= 1 OR (n_idx = 1 AND n_s - s BETWEEN 0 AND {MAX_TURN_GAP_S})"""
            e_where = f"n_idx IS NOT NULL AND n_s - s BETWEEN 0 AND {MAX_TURN_GAP_S}"
        else:
            v_where = "conv_id IN (SELECT conv_id FROM p WHERE n_idx IS NOT NULL)"
            e_where = "n_idx IS NOT NULL"
            if semantics == "reference_path":
                e_where += f" AND s // {w} = n_s // {w}"
        keyed_by_tool = semantics == "reference_path"
        tool_col, n_tool_col = ("tool", "n_tool") if keyed_by_tool else ("NULL", "NULL")
        v_rows = con.execute(
            f"""SELECT s // {w} * {w}, role, {tool_col}, count(*), min(tl), max(tl), sum(tl), avg(tl)
                FROM p WHERE {v_where} GROUP BY ALL"""
        ).fetchall()
        e_rows = con.execute(
            f"""SELECT n_s // {w} * {w}, role, {tool_col}, n_role, {n_tool_col}, count(*), avg(n_tl)
                FROM p WHERE {e_where} GROUP BY ALL"""
        ).fetchall()
        con.close()

        def sv_id(label, tool, rowtime):
            return _sha1(label, tool, rowtime) if keyed_by_tool else _sha1(label, rowtime)

        self.vertices = {}
        for ws, role, tool, n, mn, mx, sm, avg in v_rows:
            rowtime = (ws + w) * 1000 - 1
            aggs = {"count": n, "avg_text_len": avg}
            if keyed_by_tool:
                aggs.update(tool=tool, min_text_len=mn, max_text_len=mx, sum_text_len=sm)
            self.vertices[sv_id(role, tool, rowtime)] = (role, rowtime, aggs)
        self.edges = {}
        for ws, role, tool, n_role, n_tool, n, avg in e_rows:
            rowtime = (ws + w) * 1000 - 1
            label = f"{role}->{n_role}"
            src_id, tgt_id = sv_id(role, tool, rowtime), sv_id(n_role, n_tool, rowtime)
            aggs = {"count": n}
            if keyed_by_tool:
                aggs["avg_text_len"] = avg
            self.edges[_sha1(src_id, tgt_id, label, rowtime)] = (label, rowtime, aggs, src_id, tgt_id)

    def check(self, vertices: dict, edges: dict, repeated_ids: int) -> list[str]:
        """Compare normalised engine output with the reference; returns a
        list of mismatch descriptions (empty when the output is correct)."""
        errors = [f"{repeated_ids} super-element ids repeat"] if repeated_ids else []
        for kind, got, want in (("vertex", vertices, self.vertices), ("edge", edges, self.edges)):
            missing, extra = want.keys() - got.keys(), got.keys() - want.keys()
            if missing or extra:
                errors.append(f"{kind} ids: {len(missing)} missing, {len(extra)} unexpected")
            for k in want.keys() & got.keys():
                if not _same(got[k], want[k]):
                    errors.append(f"{kind} {k}: got {got[k]}, want {want[k]}")
                    break
        dangling = {e[3] for e in edges.values()} | {e[4] for e in edges.values()}
        dangling -= vertices.keys()
        if dangling:
            errors.append(f"{len(dangling)} super-edge endpoints are not emitted super-vertices")
        return errors


def _same(got, want) -> bool:
    label, t, aggs, *ends = got
    w_label, w_t, w_aggs, *w_ends = want
    if (label, t, ends) != (w_label, w_t, w_ends) or aggs.keys() != w_aggs.keys():
        return False
    for k, v in w_aggs.items():
        if isinstance(v, str):
            if aggs[k] != v:
                return False
        elif not math.isclose(float(aggs[k]), float(v), rel_tol=1e-12):
            return False
    return True


def arrow_rows(t: pa.Table) -> list[dict]:
    """Rows of ``t`` as dicts; timestamps become epoch milliseconds."""
    for i, field in enumerate(t.schema):
        if pa.types.is_timestamp(field.type):
            ms = t.column(i).cast(pa.timestamp("ms"), safe=False).cast(pa.int64())
            t = t.set_column(i, field.name, ms)
    return t.to_pylist()


def _rows(path: str) -> list[dict]:
    rows = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            rows += arrow_rows(pq.read_table(os.path.join(path, f)))
    return rows


def unique_by_id(rows: list[dict], id_col: str, make) -> tuple[dict, int]:
    """Rows keyed by super-element id, and the number of repeated ids."""
    out = {r[id_col]: make(r) for r in rows}
    return out, len(rows) - len(out)


def batch_output(v_rows: list[dict], e_rows: list[dict]) -> tuple[dict, dict, int]:
    """Normalise the grouping operator's StreamGraph output (property maps)."""
    v, v_dup = unique_by_id(
        v_rows, "vertex_id",
        lambda r: (r["vertex_label"], r["event_time"], dict(r["vertex_properties"])),
    )
    e, e_dup = unique_by_id(
        e_rows, "edge_id",
        lambda r: (r["edge_label"], r["event_time"], dict(r["edge_properties"]),
                   r["source_id"], r["target_id"]),
    )
    return v, e, v_dup + e_dup


def read_batch_output(v_dir: str, e_dir: str) -> tuple[dict, dict, int]:
    return batch_output(_rows(v_dir), _rows(e_dir))


def read_sink_output(out_root: str, v_aggs: list[str], e_aggs: list[str]) -> tuple[dict, dict, int]:
    """Normalise the streaming job's committed sink batches (flat columns);
    the flush conversation's windows are left out."""

    def committed(side):
        root = os.path.join(out_root, side)
        with open(os.path.join(root, "_lineage", "commits.json")) as f:
            ids = json.load(f)
        rows = []
        for b in ids:
            d = os.path.join(root, "data", f"batch_id={b}")
            if os.path.isdir(d):
                rows += _rows(d)
        return [r for r in rows if r["window_start"] < FLUSH_EPOCH_MS]

    v, v_dup = unique_by_id(
        committed("vertices"), "super_vertex_id",
        lambda r: (r["vertex_label"], r["event_time"], {a: r[a] for a in v_aggs}),
    )
    e, e_dup = unique_by_id(
        committed("edges"), "super_edge_id",
        lambda r: (r["edge_label"], r["event_time"], {a: r[a] for a in e_aggs},
                   r["source_id"], r["target_id"]),
    )
    return v, e, v_dup + e_dup
