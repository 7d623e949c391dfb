"""Seeded inputs: same seed, same bytes; other seed, other inputs."""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import run


@pytest.fixture
def events_dir(tmp_path):
    n = 50
    t0 = dt.datetime(2024, 1, 1)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(minutes=7 * i) for i in range(n)],
                           pa.timestamp("us")),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(["click", "view", "purchase"][i % 3] for i in range(n)),
            "value": pa.array([float(i) for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(tbl, src / "events.parquet")
    return src


def _replica(src, dst, seed, k=4):
    n = inputs.write_events_replica(str(src), str(dst), k, seed)
    return n, (dst / "events.parquet").read_bytes()


def test_same_seed_gives_byte_identical_replica(events_dir, tmp_path):
    n1, b1 = _replica(events_dir, tmp_path / "a", seed=7)
    n2, b2 = _replica(events_dir, tmp_path / "b", seed=7)
    assert n1 == n2 == 200
    assert b1 == b2


def test_other_seed_shifts_copies_at_same_event_count(events_dir, tmp_path):
    n1, b1 = _replica(events_dir, tmp_path / "a", seed=1)
    n2, b2 = _replica(events_dir, tmp_path / "b", seed=2)
    assert n1 == n2
    assert b1 != b2
    assert inputs.copy_shifts(4, 1) != inputs.copy_shifts(4, 2)


def test_replica_layout_ids_and_shifts(events_dir, tmp_path):
    k, seed = 3, 5
    inputs.write_events_replica(str(events_dir), str(tmp_path / "r"), k, seed)
    src = pq.read_table(events_dir / "events.parquet")
    out = pq.read_table(tmp_path / "r" / "events.parquet")
    assert out.schema == src.schema  # the file source needs the fixture schema
    n = src.num_rows
    shifts = inputs.copy_shifts(k, seed)
    for i in range(k):
        part = out.slice(i * n, n)
        assert part["event_id"].to_pylist() == [e * k + i for e in src["event_id"].to_pylist()]
        assert part["user_id"].to_pylist() == [u * k + i for u in src["user_id"].to_pylist()]
        moved = [t + dt.timedelta(seconds=shifts[i]) for t in src["ts"].to_pylist()]
        assert part["ts"].to_pylist() == moved
    assert all(0 <= s < inputs.MAX_SHIFT_S for s in shifts)


def test_key_order_is_seeded_permutation():
    keys = run.BATCH_KEYS
    assert inputs.key_order(keys, 3) == inputs.key_order(keys, 3)
    assert inputs.key_order(keys, 3) != inputs.key_order(keys, 4)
    assert sorted(inputs.key_order(keys, 3)) == sorted(keys)
