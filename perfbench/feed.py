"""Seeded change-feed inputs and the independent last-writer-wins reference.

The feed is generated here, with NumPy and pyarrow, rather than by the
package's own Spark generator: the inputs must not change when the program
under test changes, and building them must not need a Spark session (so the
cost stays out of every measured phase). The shape follows the package's
feed model: power-law conversation skew plus a few hot conversations,
insert/update/delete mix, conversation-level events, out-of-order event time
with strictly increasing LSNs, and redelivered duplicates.

`expected_state` replays a set of segment files with DuckDB under the
semantics of `aqueduct_core_spark.oracle.replay` (the executable spec), and
`compare_states` checks an engine read against it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_WORDS = np.array(
    "flow pipe merge offset batch stream window table turn reply plan tool call "
    "answer query check state apply delta shard".split()
)

FEED_SCHEMA = pa.schema(
    [
        pa.field("change_lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("entity", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("routing_id", pa.int64()),
        pa.field("event_size", pa.int32()),
    ]
)


@dataclass(frozen=True)
class FeedShape:
    n_events: int
    n_convs: int
    turns_per_conv: int = 20
    skew: float = 1.3
    n_hot: int = 5
    p_hot: float = 0.05
    p_conversation: float = 0.03
    p_update: float = 0.25
    p_delete: float = 0.05
    ts_jitter_s: float = 60.0
    dup_frac: float = 0.01
    n_routing: int = 16

    def key(self, seed: int, n_segments: int) -> str:
        return f"s{seed}-n{self.n_events}-c{self.n_convs}-g{n_segments}"


def generate(shape: FeedShape, seed: int) -> pa.Table:
    """The feed as one LSN-ordered Arrow table; a pure function of (shape, seed)."""
    rng = np.random.default_rng(seed)
    n = shape.n_events
    u = rng.random((8, n))
    conv_idx = np.floor(u[0] ** shape.skew * shape.n_convs).astype(np.int64)
    if shape.n_hot and shape.p_hot:
        hot = u[1] < shape.p_hot
        conv_idx[hot] = np.floor(u[0][hot] * shape.n_hot).astype(np.int64)
    is_conv = u[3] < shape.p_conversation
    turn_idx = np.floor(u[2] * shape.turns_per_conv).astype(np.int32)
    op = np.where(
        u[4] < shape.p_delete,
        "D",
        np.where(u[4] < shape.p_delete + shape.p_update, "U", "I"),
    )
    role = np.where(
        is_conv,
        "system",
        np.where(turn_idx % 2 == 0, "user", np.where(u[6] < 0.15, "tool", "assistant")),
    )
    word = _WORDS[rng.integers(0, len(_WORDS), n)]
    lsn = np.arange(1, n + 1, dtype=np.int64)
    conv_ids = np.char.add("conv-", np.char.zfill(conv_idx.astype(str), 8))
    entity = np.where(is_conv, "conversation", "turn")
    text = np.char.add(
        np.char.add(np.char.add(np.char.add(word, " "), conv_ids), np.char.add(" ", entity)),
        np.char.add(" ", lsn.astype(str)),
    )
    is_delete = op == "D"
    is_tool = role == "tool"
    jitter_us = ((u[5] - 0.5) * 2 * shape.ts_jitter_s * 1e6).astype(np.int64)
    ts = BASE_TS_US + (lsn - 1) * 1_000_000 + jitter_us
    routing = (conv_idx * 2654435761 % (1 << 32)) % shape.n_routing
    event_size = np.char.str_len(text).astype(np.int32) + 64

    # Redelivery: the same (lsn, payload) appears twice, next to the original.
    repeat = np.where(u[7] < shape.dup_frac, 2, 1)
    idx = np.repeat(np.arange(n), repeat)
    return pa.table(
        {
            "change_lsn": lsn[idx],
            "op": op[idx],
            "entity": entity[idx],
            "conv_id": conv_ids[idx],
            "turn_idx": pa.array(turn_idx[idx], mask=is_conv[idx]),
            "role": role[idx],
            "text": pa.array(text[idx], mask=is_delete[idx]),
            "tool": pa.array(np.char.add("tool-", word)[idx], mask=~is_tool[idx]),
            "ts": pa.array(ts[idx], type=pa.timestamp("us", tz="UTC")),
            "routing_id": routing[idx],
            "event_size": event_size[idx],
        },
        schema=FEED_SCHEMA,
    )


def write_segments(table: pa.Table, out_dir: str, n_segments: int) -> list[str]:
    """Split the LSN-ordered feed into `n_segments` contiguous parquet files,
    named so lexical order is LSN order. Returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_segments + 1).astype(int)
    paths = []
    for i in range(n_segments):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


def segment_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def segment_max_lsn(path: str) -> int:
    md = pq.ParquetFile(path).metadata
    col = md.schema.names.index("change_lsn")
    return max(md.row_group(i).column(col).statistics.max for i in range(md.num_row_groups))


def cached_segments(
    cache_root: str, shape: FeedShape, seed: int, n_segments: int
) -> list[str]:
    """Segments for (shape, seed), generated once per checkout and reused."""
    final = os.path.join(cache_root, shape.key(seed, n_segments))
    done = os.path.join(final, "_DONE")
    if not os.path.exists(done):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_segments(generate(shape, seed), tmp, n_segments)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return sorted(
        os.path.join(final, f) for f in os.listdir(final) if f.endswith(".parquet")
    )


_EXPECTED_SQL = """
WITH ev AS (
  SELECT *, CASE WHEN entity = 'conversation' THEN -1 ELSE turn_idx END AS k
  FROM read_parquet($paths)
),
winners AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, k ORDER BY ts DESC, change_lsn DESC) AS rn
    FROM ev) WHERE rn = 1
),
conv_delete AS (
  SELECT conv_id, ts AS d_ts, change_lsn AS d_lsn FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id ORDER BY ts DESC, change_lsn DESC) AS rn
    FROM ev WHERE entity = 'conversation' AND op = 'D') WHERE rn = 1
)
SELECT w.conv_id, w.k AS turn_idx, w.role, w.text, w.tool,
       epoch_us(w.ts) AS ts_us
FROM winners w LEFT JOIN conv_delete d USING (conv_id)
WHERE w.k >= 0 AND w.op <> 'D'
  AND (d.d_ts IS NULL OR w.ts > d.d_ts OR (w.ts = d.d_ts AND w.change_lsn > d.d_lsn))
"""


def expected_state(paths: list[str]) -> pa.Table:
    """The live transcript rows an LWW replay of `paths` must leave (sorted)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        t = con.execute(_EXPECTED_SQL, {"paths": list(paths)}).fetch_arrow_table()
    finally:
        con.close()
    return _canonical(t)


def _canonical(t: pa.Table) -> pa.Table:
    t = t.select(["conv_id", "turn_idx", "role", "text", "tool", "ts_us"])
    t = t.cast(
        pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int64()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts_us", pa.int64()),
            ]
        )
    )
    return t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])


def engine_state(transcripts_df) -> pa.Table:
    """Canonical form of a `read_transcripts` DataFrame, for `compare_states`."""
    from pyspark.sql import functions as F

    df = transcripts_df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros("ts").alias("ts_us"),
    )
    return _canonical(df.toArrow())


def compare_states(got: pa.Table, want: pa.Table) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} != expected {want.num_rows}"
    for name in want.column_names:
        if not got.column(name).equals(want.column(name)):
            return f"column {name} differs from the LWW replay"
    return None
