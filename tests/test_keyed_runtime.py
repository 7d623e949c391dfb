"""Unit tests for the keyed-state runtime in streaming/streams.py: the
input decode (ingest_chunk), the state codec behind keyed_handler, the
handler's hold buffer, timer clamp and state removal, and the source
pin that keeps run_keyed the package's only stateful launch. Pure
Python — handlers are driven through a minimal GroupState stand-in."""

from __future__ import annotations

import inspect
import math
import pathlib
import re

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import flink_large_window_spark
from flink_large_window_spark.streaming.streams import (
    _state_codec,
    compile_count_session_stream,
    ingest_chunk,
    keyed_handler,
    run_keyed,
)


def _row_loop_reference(chunk, val_col):
    return [
        (
            int(ts.value) // 1000,
            int(eid),
            None if pd.isna(c) else c,
            None if val_col is None or pd.isna(v) else float(v),
        )
        for ts, eid, c, v in zip(
            chunk["ts"],
            chunk["event_id"],
            chunk["event_type"],
            chunk[val_col] if val_col else [None] * len(chunk),
        )
    ]


def test_ingest_chunk_decodes_every_missing_marker_like_the_row_loop():
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.001234", "2024-01-01 00:00:01",
         "2024-01-02 12:00:00.5", "2024-01-03", "2024-01-04"],
        format="ISO8601",
    )
    classes = ["click", None, float("nan"), pd.NA, "view"]
    for dtype in ("object", "string"):
        chunk = pd.DataFrame(
            {
                "ts": ts,
                "event_id": [5, 4, 3, 2, 1],
                "event_type": pd.Series(classes, dtype=dtype),
                "value": [1.5, float("nan"), None, 2.0, float("nan")],
            }
        )
        for val_col in ("value", None):
            buf = [(0, 0, "seed", None)]
            ingest_chunk(buf, chunk, "ts", "event_id", "event_type", val_col)
            assert buf[0] == (0, 0, "seed", None)
            assert buf[1:] == _row_loop_reference(chunk, val_col), (
                dtype, val_col
            )
            assert all(e[2] is None for e in buf[2:5]), dtype


_SCHEMA = StructType(
    [
        StructField("win_cls", ArrayType(StringType())),
        StructField("win_nul", ArrayType(LongType())),
        StructField("win_len", ArrayType(LongType())),
        StructField("win_v", ArrayType(DoubleType())),
        StructField("cur_cls", StringType()),
        StructField("cur_nul", LongType()),
        StructField("cur_len", LongType()),
        StructField("cur_v", DoubleType()),
    ]
)


def test_state_codec_round_trips_and_stores_null_encodings():
    fresh, decode, encode = _state_codec(
        _SCHEMA, {"win": ("cls", "len", "absent", "v")}
    )
    assert fresh() == {
        "cur_cls": None, "cur_len": None, "cur_v": None, "win": [],
    }
    st = {
        "win": [("a", 2, None, 1.5), (None, 1, None, None)],
        "cur_cls": None,
        "cur_len": 3,
        "cur_v": None,
    }
    row = encode(st)
    assert row[:4] == (["a", ""], [0, 1], [2, 1], [1.5, row[3][1]])
    assert math.isnan(row[3][1])
    assert row[4:7] == ("", 1, 3) and math.isnan(row[7])
    assert decode(row) == st


class _State:
    """The slice of GroupState keyed_handler touches."""

    def __init__(self, value, wm_ms, timed_out=False):
        self.value, self.wm_ms = value, wm_ms
        self.hasTimedOut = timed_out
        self.timeout = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.value = tuple(v)

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


_OUT = StructType([StructField("k", LongType()), StructField("id", LongType())])
_HOLD_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_cls", ArrayType(StringType())),
        StructField("buf_nul", ArrayType(LongType())),
    ]
)


def _chunk(rows):
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] * 1000 for r in rows], unit="us"),
            "id": [r[1] for r in rows],
            "cls": [r[2] for r in rows],
        }
    )


def test_keyed_handler_holds_folds_in_order_and_clamps_timers():
    seen = []

    def process(key, st, events, wm_ms):
        seen.append([e[1] for e in events])
        st["n"] = (st["n"] or 0) + len(events)
        if st["n"] >= 3 and not st["buf"]:
            st.clear()
            return [(key, e[1]) for e in events], None
        return [(key, e[1]) for e in events], 5  # below the watermark

    handler = keyed_handler(
        process, _OUT, _HOLD_SCHEMA, ("ts", "id", "cls", None), {},
        hold=True,
    )
    # wm = 10 ms: events at 12 ms and 20 ms are held, 3 ms / 9 ms fold
    # in (ts, id) order whatever the arrival order
    st = _State(None, 10)
    out = list(handler(
        (7,), iter([_chunk([(20, 1, "a"), (9, 2, None), (3, 3, "b")]),
                    _chunk([(12, 4, "a")])]), st
    ))
    assert seen == [[3, 2]]
    assert out[0].to_dict("list") == {"k": [7, 7], "id": [3, 2]}
    assert st.value == (2, [20000, 12000], [1, 4], ["a", "a"], [0, 0])
    # machine timer 5 and hold timer 12 - 1 = 11: the earlier one, 5,
    # clamps to wm + 1
    assert st.timeout == 11
    # timer firing at wm = 25: both held events fold in ts order, the
    # buffer drains, and the machine clears its state: removed
    st2 = _State(st.value, 25, timed_out=True)
    out = list(handler((7,), iter([]), st2))
    assert seen[-1] == [4, 1]
    assert out[0].to_dict("list") == {"k": [7, 7], "id": [4, 1]}
    assert st2.value is None and st2.timeout is None


def test_count_session_folds_in_event_time_order_across_chunks():
    """One invocation, two Arrow chunks: the second chunk holds a
    signup earlier than every event of the first. The counts must
    follow (ts, event_id) order over both chunks, not chunk order."""
    handler, _, _ = compile_count_session_stream()

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "ts": pd.to_datetime([r[0] for r in rows], unit="m"),
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )

    st = _State(None, 0)
    out = pd.concat(handler(
        (7,),
        iter([chunk([(10, 1, "view"), (20, 2, "click")]),
              chunk([(5, 3, "signup"), (30, 4, "view")])]),
        st,
    ))
    got = dict(zip(out["event_id"], out["n_since_signup"]))
    assert got == {3: 1, 1: 2, 2: 3, 4: 4}, got
    assert set(out["user_id"]) == {7}
    assert st.value == (1, 4) and st.timeout is None
    # the counter carries into the next invocation
    out = pd.concat(handler((7,), iter([chunk([(40, 5, "view")])]), st))
    assert out.to_dict("list") == {
        "user_id": [7], "event_id": [5], "n_since_signup": [5],
    }
    assert st.value == (1, 5)


def test_run_keyed_is_the_only_launch_and_no_row_unboxing_is_left():
    pkg = pathlib.Path(flink_large_window_spark.__file__).parent
    launches = {
        str(p.relative_to(pkg)): p.read_text().count("applyInPandasWithState(")
        for p in pkg.rglob("*.py")
    }
    assert {p: n for p, n in launches.items() if n} == {
        "streaming/streams.py": 1
    }
    assert "applyInPandasWithState(" in inspect.getsource(run_keyed)
    unboxing = [
        f"{p.name}:{i}"
        for p in (pkg / "streaming").rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\bts\.value\b", line)
    ]
    assert not unboxing, unboxing
