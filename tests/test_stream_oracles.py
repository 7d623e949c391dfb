"""DuckDB-oracle check of the keyed-state stream machines at sf0.001:
every key registered in streaming/cep_stream.py plus the streams.py
keys launched through the shared keyed runtime. Each case runs the
key's Spark form and its oracle side by side through
tests/check_oracle.compare_one (row count, schema, dtypes and
order-insensitive values)."""

from __future__ import annotations

import pytest

from flink_large_window_spark import api
from tests.check_oracle import compare_one
from tests.conftest import SF_SMOKE

_CEP_STREAM_KEYS = sorted(
    k for k, fn in api.queries().items()
    if fn.__module__.endswith(".streaming.cep_stream")
)

_KEYED_STREAMS_KEYS = [
    "stateful_count_session_stream",
    "stateful_session_timeout_stream",
    "stateful_session_ttl_stream",
    "window_topn_stream",
    "window_count_tumbling_stream",
    "window_count_sliding_stream",
    "join_asof_stream",
]


def test_stream_oracle_key_set():
    assert len(_CEP_STREAM_KEYS) == 21
    assert set(_KEYED_STREAMS_KEYS) <= set(api.queries())


@pytest.mark.parametrize("key", _CEP_STREAM_KEYS + _KEYED_STREAMS_KEYS)
def test_stream_key_matches_oracle(spark, duck, key):
    res = compare_one(spark, duck, key, SF_SMOKE)
    assert res["status"] == "OK", res
