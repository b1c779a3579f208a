"""Seeded transcript generator for the benchmark (numpy + pyarrow).

It is deliberately independent of the package's own generator, so that a
change to the program cannot change the workload. It reproduces that
generator's distribution:

- 2-16 turns per conversation; the first 0.1% of conversations are hot,
  with 10x the turns (at most 160) and every turn after the first an
  assistant turn;
- role pattern: turn 0 is a user turn, odd turns are assistant turns, and
  even turns are tool turns with probability 1/3 (tool one of
  search/python/browser, else the empty string) or user turns;
- text of 20-400 characters;
- turn t starts 31*t + U[0, 29] s after its conversation, conversations
  start at uniform offsets across one day, and 1% of the turns after the
  first are lagged by 15 s (1.5x the 10 s watermark delay).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1735689600  # 2025-01-01 00:00:00 UTC
LAG_S = 15
TOOLS = np.array(["search", "python", "browser"], dtype=object)
FILLER = "the quick brown fox jumps over the lazy dog and then it stops to think " * 6
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def transcripts(seed: int, num_convs: int) -> pa.Table:
    """Turns of ``num_convs`` conversations, sorted by (conv_id, turn_idx)."""
    rng = np.random.default_rng(seed)
    n_hot = max(1, num_convs // 1000)
    base_turns = rng.integers(2, 17, num_convs)
    hot_conv = np.arange(num_convs) < n_hot
    n_turns = np.where(hot_conv, np.minimum(base_turns * 10, 160), base_turns)
    conv_start = rng.integers(0, 86_400, num_convs)

    conv = np.repeat(np.arange(num_convs), n_turns)
    first = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn = np.arange(len(conv)) - first
    hot = hot_conv[conv]
    n = len(conv)

    tool_turn = (turn % 2 == 0) & (turn > 0) & ~hot & (rng.integers(0, 3, n) == 0)
    role = np.where(tool_turn, "tool", "user").astype(object)
    role[(turn % 2 == 1) | (hot & (turn > 0))] = "assistant"
    tool = np.where(tool_turn, TOOLS[rng.integers(0, 3, n)], "")

    lagged = (turn > 0) & (rng.random(n) < 0.01)
    ts_s = BASE_EPOCH + conv_start[conv] + 31 * turn + rng.integers(0, 30, n) - LAG_S * lagged

    conv_id = np.char.add("c", np.char.zfill(conv.astype(str), 8)).astype(object)
    text_len = rng.integers(20, 401, n)
    text = [FILLER[:k] for k in text_len]
    return pa.Table.from_arrays(
        [
            pa.array(conv_id, pa.string()),
            pa.array(turn.astype(np.int32)),
            pa.array(role, pa.string()),
            pa.array(text, pa.string()),
            pa.array(tool, pa.string()),
            pa.array(ts_s * 1_000_000, pa.int64()).cast(SCHEMA.field("ts").type),
        ],
        schema=SCHEMA,
    )


def flush_conversation() -> pa.Table:
    """A two-turn conversation in 2030: its successor edge advances the
    watermark past every real window, so append mode emits them all."""
    ts = np.array([1893456000, 1893456005], dtype=np.int64) * 1_000_000
    return pa.Table.from_arrays(
        [
            pa.array(["zz_flush", "zz_flush"]),
            pa.array([0, 1], pa.int32()),
            pa.array(["user", "assistant"]),
            pa.array(["flush", "flush"]),
            pa.array(["", ""]),
            pa.array(ts).cast(SCHEMA.field("ts").type),
        ],
        schema=SCHEMA,
    )


def write_table(table: pa.Table, path: str, files: int = 4) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def write_chunks(table: pa.Table, path: str, chunks: int) -> None:
    """Cut ``table`` by ``ts`` into ``chunks`` equal time spans, one parquet
    file each; the last file ends with the flush conversation.
    Modification times increase with the chunk index, which fixes the
    order the file source hands the files over."""
    os.makedirs(path, exist_ok=True)
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    order = np.argsort(ts, kind="stable")
    edges = np.linspace(ts.min(), ts.max() + 1, chunks + 1)
    cut = np.searchsorted(ts[order], edges)
    parts = [table.take(order[cut[i] : cut[i + 1]]) for i in range(chunks)]
    parts[-1] = pa.concat_tables([parts[-1], flush_conversation()])
    for i, part in enumerate(parts):
        f = os.path.join(path, f"chunk-{i:03d}.parquet")
        pq.write_table(part, f)
        os.utime(f, (BASE_EPOCH + i, BASE_EPOCH + i))
