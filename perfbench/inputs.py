"""Seeded inputs for the benchmark workloads.

Everything a workload reads is derived from its ``--seed``: the same
seed gives the same key order and a byte-identical events replica; a
different seed gives a different order and different per-copy
event-time shifts at the same event count.
"""

from __future__ import annotations

import os
import random

#: Upper bound (exclusive) of the per-copy event-time shift, in seconds.
#: An hour moves the global max event time, and with it the final
#: watermark and the windows it closes, while each copy keeps its own
#: users, so the per-key work stays the same from seed to seed.
MAX_SHIFT_S = 3600


def key_order(keys: list[str] | tuple[str, ...], seed: int) -> list[str]:
    """The workload's keys in a seed-determined order."""
    order = list(keys)
    random.Random(f"order:{seed}").shuffle(order)
    return order


def copy_shifts(k: int, seed: int) -> list[int]:
    """Event-time shift in whole seconds for each of the k copies."""
    rng = random.Random(f"shift:{seed}")
    return [rng.randrange(MAX_SHIFT_S) for _ in range(k)]


def write_events_replica(src_dir: str, dst_dir: str, k: int, seed: int) -> int:
    """Write ``dst_dir/events.parquet``: the source events copied k times.

    Copy i of a row gets ``event_id·k+i`` and ``user_id·k+i``, so copies
    never share a key, and its ``ts`` moved forward by that copy's
    seeded shift. The file is one pyarrow-written parquet with the
    source schema (timestamp[us], isAdjustedToUTC=false): the streaming
    file source narrows to that literal file name. The checked kernels
    raise on overflow instead of wrapping. Returns the event count.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(src_dir, "events.parquet"))
    schema = tbl.schema
    ts_idx = schema.get_field_index("ts")
    ts_unit = schema.field(ts_idx).type.unit
    base = {
        c: pc.multiply_checked(tbl[c], pa.scalar(k, type=schema.field(c).type))
        for c in ("event_id", "user_id")
    }
    parts = []
    for i, shift in enumerate(copy_shifts(k, seed)):
        t = tbl
        for c, scaled in base.items():
            idx = schema.get_field_index(c)
            col = pc.add_checked(scaled, pa.scalar(i, type=schema.field(c).type))
            t = t.set_column(idx, c, col)
        moved = pc.add_checked(
            tbl["ts"], pa.scalar(shift * 1_000_000, type=pa.duration("us"))
        ).cast(pa.timestamp(ts_unit))
        parts.append(t.set_column(ts_idx, schema.field(ts_idx), moved))
    out = pa.concat_tables(parts)
    os.makedirs(dst_dir, exist_ok=True)
    pq.write_table(out, os.path.join(dst_dir, "events.parquet"))
    return out.num_rows
