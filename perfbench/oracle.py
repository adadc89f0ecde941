"""Replay oracle: the reference join semantics as a pure-Python state machine.

Events are replayed in ``seq`` order (the reference's per-partition arrival
order):

- a car event upserts the car into its new zone and probes that zone's
  value, emitting one joined row if the zone has one;
- the same car event then deletes the car from its previous zone, even when
  the previous zone is the new one (the arrive-then-delete quirk);
- a zone event upserts the zone's value and fans out one joined row per car
  currently in the zone;
- nothing is ever retracted.

Outputs are compared as multisets through an order-independent digest:
``(row count, sum of G(car, zone, fuel) * H(zone, pollution) mod P)``, where
G and H are Spark's ``xxhash64`` over the integer columns (money in cents),
reduced mod the prime P = 2^31 - 1 so that every product and sum stays in
64-bit integer arithmetic on both sides.
The digest of a zone fan-out is then ``H * (sum of G over the zone's
members)``, so the replay keeps one running sum per zone and replays a
fan-out in O(1) instead of materialising its rows.  ``spark_digest``
computes the same digest inside Spark, so neither side collects joined rows.
"""

from __future__ import annotations

import numpy as np

from events import Events

P = (1 << 31) - 1
_SEED = 42
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxhash64_mod(ints: list, longs: list = ()) -> np.ndarray:
    """``pmod(xxhash64(int columns..., long columns...), P)`` exactly as Spark
    computes it (Spark's XXH64 ``hashInt`` / ``hashLong`` chain, seed 42),
    vectorised over equal-length integer arrays."""
    n = len(ints[0]) if ints else len(longs[0])
    h = np.full(n, _SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col in ints:
            v = np.asarray(col, dtype=np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)
            x = h + _P5 + np.uint64(4)
            x = x ^ (v * _P1)
            h = _fmix(_rotl(x, 23) * _P2 + _P3)
        for col in longs:
            v = np.asarray(col, dtype=np.int64).astype(np.uint64)
            x = h + _P5 + np.uint64(8)
            x = x ^ (_rotl(v * _P2, 31) * _P1)
            h = _fmix(_rotl(x, 27) * _P1 + _P4)
    return h.view(np.int64) % np.int64(P)


def sum_mod(values: np.ndarray) -> int:
    """Sum of values in [0, P), mod P."""
    return int(values.sum(dtype=np.int64)) % P


class JoinReplay:
    """Replays events and keeps the digest of every joined row emitted so
    far, plus the latest per-key state the snapshot join reads."""

    def __init__(self) -> None:
        self.rows = 0
        self.acc = 0
        self.zone_h: dict[int, int] = {}
        self.zone_c: dict[int, int] = {}
        self.members: dict[int, dict[int, int]] = {}
        self.member_sum: dict[int, int] = {}
        self.car_last: dict[int, tuple[int, int]] = {}

    def replay(self, ev: Events) -> None:
        """Apply ``ev`` (already in seq order) to the state."""
        is_car = ev.car >= 0
        gh = np.where(
            is_car,
            xxhash64_mod([ev.car, ev.zone, ev.cents]),
            xxhash64_mod([ev.zone, ev.cents]),
        )
        zone_h, members, member_sum, car_last = (
            self.zone_h, self.members, self.member_sum, self.car_last)
        rows, acc = self.rows, self.acc
        for car, zone, cents, x in zip(
            ev.car.tolist(), ev.zone.tolist(), ev.cents.tolist(), gh.tolist()
        ):
            if car >= 0:
                h = zone_h.get(zone)
                if h is not None:
                    rows += 1
                    acc = (acc + x * h) % P
                into = members.setdefault(zone, {})
                member_sum[zone] = (member_sum.get(zone, 0) - into.get(car, 0) + x) % P
                into[car] = x
                prev = car_last.get(car)
                if prev is not None:
                    g = members[prev[0]].pop(car, None)
                    if g is not None:
                        member_sum[prev[0]] = (member_sum[prev[0]] - g) % P
                car_last[car] = (zone, cents)
            else:
                zone_h[zone] = x
                self.zone_c[zone] = cents
                into = members.get(zone)
                if into:
                    rows += len(into)
                    acc = (acc + member_sum[zone] * x) % P
        self.rows, self.acc = rows, acc

    def digest(self) -> tuple[int, int]:
        return self.rows, self.acc

    def snapshot_digest(self) -> tuple[int, int]:
        """Digest of latest car position ⋈ latest zone value (inner)."""
        hits = [(car, z, c, self.zone_c[z]) for car, (z, c) in self.car_last.items()
                if z in self.zone_c]
        if not hits:
            return 0, 0
        car, zone, fuel, poll = (np.array(col, dtype=np.int64) for col in zip(*hits))
        g = xxhash64_mod([car, zone, fuel])
        h = xxhash64_mod([zone, poll])
        return len(hits), sum(int(a) * int(b) for a, b in zip(g.tolist(), h.tolist())) % P


def moves_digest(ev: Events) -> tuple[int, int]:
    """Digest of the arrive/leave rows ``car_moves`` → ``arrive_leave_events``
    emits: one arrive row per car event, plus a leave row from the previous
    zone when the car has one (emit_rank 0 and 1)."""
    m = ev.car >= 0
    seq, car, zone, cents = ev.seq[m], ev.car[m], ev.zone[m], ev.cents[m]
    order = np.lexsort((seq, car))
    seq, car, zone, cents = seq[order], car[order], zone[order], cents[order]
    has_prev = np.zeros(len(car), dtype=bool)
    has_prev[1:] = car[1:] == car[:-1]
    prev_zone = np.roll(zone, 1)
    arrive = xxhash64_mod([car, zone, np.zeros_like(car), cents], [seq])
    leave = xxhash64_mod(
        [car[has_prev], prev_zone[has_prev], np.ones(int(has_prev.sum()), np.int64),
         cents[has_prev]],
        [seq[has_prev]],
    )
    return len(arrive) + len(leave), (sum_mod(arrive) + sum_mod(leave)) % P


def _cents(col: str) -> str:
    return f"cast(round({col} * 100) as int)"


def spark_digest(df) -> tuple[int, int]:
    """The joined-row digest of ``df`` (car_id, zone_id, fuel_level,
    pollution_level), computed inside Spark."""
    from pyspark.sql import functions as F

    g = f"pmod(xxhash64(car_id, zone_id, {_cents('fuel_level')}), {P})"
    h = f"pmod(xxhash64(zone_id, {_cents('pollution_level')}), {P})"
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.expr(f"sum(pmod({g} * {h}, {P}))").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0) % P


def spark_moves_digest(df) -> tuple[int, int]:
    """The arrive/leave digest of ``df`` (car_id, zone_id, emit_rank,
    fuel_level, seq), computed inside Spark."""
    from pyspark.sql import functions as F

    term = (
        f"pmod(xxhash64(car_id, zone_id, emit_rank, {_cents('fuel_level')}, "
        f"cast(seq as bigint)), {P})"
    )
    row = df.agg(F.count(F.lit(1)).alias("n"), F.expr(f"sum({term})").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0) % P
