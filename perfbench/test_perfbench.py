"""Self-tests of the benchmark's own parts (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import run
from events import Events, StepSource, StreamShape, zipf_history
from oracle import JoinReplay, P, moves_digest, xxhash64_mod

# The edge-case scenario of tests/test_streaming.py (FIXTURES.md cases 1-6):
# first car before any zone value, fan-out, upsert, delete propagation, the
# same-zone arrive-then-delete quirk, and no retraction.
CAR_ROWS = [(0, 1, 100, 10.0), (2, 2, 100, 20.0), (4, 1, 101, 11.0), (6, 2, 100, 21.0)]
ZONE_ROWS = [(1, 100, 50.0), (3, 100, 60.0), (5, 100, 70.0), (7, 100, 80.0)]
EXPECTED = [
    (1, 100, 10.0, 50.0),
    (1, 100, 10.0, 60.0),
    (2, 100, 20.0, 50.0),
    (2, 100, 20.0, 60.0),
    (2, 100, 20.0, 70.0),
    (2, 100, 21.0, 70.0),
]


def _cents(x: float) -> int:
    return int(round(x * 100))


def _fixture_events() -> Events:
    rows = sorted(
        [(s, c, z, _cents(f)) for s, c, z, f in CAR_ROWS]
        + [(s, -1, z, _cents(p)) for s, z, p in ZONE_ROWS]
    )
    return Events(*(np.array(col, dtype=np.int64) for col in zip(*rows)))


def _digest(rows) -> tuple[int, int]:
    """Digest of explicit joined rows, hashed one by one."""
    acc = 0
    for car, zone, fuel, poll in rows:
        g = int(xxhash64_mod([[car], [zone], [_cents(fuel)]])[0])
        h = int(xxhash64_mod([[zone], [_cents(poll)]])[0])
        acc = (acc + g * h) % P
    return len(rows), acc


def test_xxhash_matches_spark():
    # values of Spark's xxhash64(...) for these literals
    assert int(xxhash64_mod([[1], [100], [1000]])[0]) == 7459662919041939090 % P
    assert int(xxhash64_mod([[-5], [2147483647]])[0]) == -8784205949574009023 % P
    assert (int(xxhash64_mod([[3], [4], [1], [250]], [[123456789012]])[0])
            == -1947924494050251142 % P)


def test_replay_matches_fixture_expectation():
    replay = JoinReplay()
    replay.replay(_fixture_events())
    assert replay.digest() == _digest(EXPECTED)
    # without the quirk, car 2 would still be in zone 100 at the last update
    assert replay.digest() != _digest(EXPECTED + [(2, 100, 21.0, 80.0)])


def test_replay_is_incremental():
    ev = _fixture_events()
    whole, split = JoinReplay(), JoinReplay()
    whole.replay(ev)
    split.replay(Events(ev.seq[:3], ev.car[:3], ev.zone[:3], ev.cents[:3]))
    split.replay(Events(ev.seq[3:], ev.car[3:], ev.zone[3:], ev.cents[3:]))
    assert split.digest() == whole.digest()


def test_snapshot_and_moves_digests_on_fixture():
    replay = JoinReplay()
    replay.replay(_fixture_events())
    # car 1 ends in zone 101, which never got a value
    assert replay.snapshot_digest() == _digest([(2, 100, 21.0, 80.0)])
    moves = [(1, 100, 0, 10.0, 0), (2, 100, 0, 20.0, 2), (1, 101, 0, 11.0, 4),
             (1, 100, 1, 11.0, 4), (2, 100, 0, 21.0, 6), (2, 100, 1, 21.0, 6)]
    acc = sum(int(xxhash64_mod([[c], [z], [r], [_cents(f)]], [[s]])[0])
              for c, z, r, f, s in moves)
    assert moves_digest(_fixture_events()) == (len(moves), acc % P)


def test_steps_are_deterministic_and_ordered():
    shape = StreamShape(cars=30, zones=4, car_events=20, zone_events=5)
    a, b = StepSource(shape, 7), StepSource(shape, 7)
    warm = a.next_step()
    assert sorted(warm.cars().car.tolist()) == list(range(1, 31))
    assert len(set(warm.zones().zone.tolist())) == 4
    b.next_step()
    for _ in range(3):
        x, y = a.next_step(), b.next_step()
        assert all(np.array_equal(getattr(x, f), getattr(y, f))
                   for f in ("seq", "car", "zone", "cents"))
        assert x.cars().seq.max() < x.zones().seq.min()
    assert StepSource(shape, 8).next_step().car.tolist() != warm.car.tolist()


def test_zipf_history_is_seeded_and_skewed():
    h = zipf_history(cars=100, zones=10, car_events=5000, zone_events=500,
                     exponent=1.1, seed=3)
    assert np.array_equal(h.zone, zipf_history(100, 10, 5000, 500, 1.1, 3).zone)
    assert len(h.cars()) == 5000 and len(h.zones()) == 500
    counts = np.bincount(h.zone - h.zone.min())
    assert counts.max() > 3 * counts.min()


@pytest.mark.parametrize("section, table", [("end_to_end", run.END_TO_END),
                                            ("per_layer", run.PER_LAYER)])
def test_benchmark_json_matches_reported_metrics(section, table):
    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec[section]} == table
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
