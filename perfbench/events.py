"""Seeded event generator and the files the program reads.

A car event is ``(seq, car_id, to_zone_id, fuel_level)`` and a zone event is
``(seq, zone_id, pollution_level)``.  Money is drawn on a 1/100 grid and
carried as integer cents, so the replay oracle compares exactly.  Streams are
written as JSON lines (the reference's Kafka wire format), batches as
parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

ZONE_BASE = 1000
MAX_FUEL_CENTS = 5_000
MAX_POLLUTION_CENTS = 20_000


@dataclass(frozen=True)
class Events:
    """Events in seq order as parallel int64 arrays; ``car`` is -1 on zone
    events, ``cents`` is fuel on car events and pollution on zone events."""

    seq: np.ndarray
    car: np.ndarray
    zone: np.ndarray
    cents: np.ndarray

    def __len__(self) -> int:
        return len(self.seq)

    def cars(self) -> "Events":
        return self._take(self.car >= 0)

    def zones(self) -> "Events":
        return self._take(self.car < 0)

    def _take(self, mask: np.ndarray) -> "Events":
        return Events(self.seq[mask], self.car[mask], self.zone[mask], self.cents[mask])


def _concat(parts: list[Events]) -> Events:
    return Events(*(np.concatenate([getattr(p, f) for p in parts])
                    for f in ("seq", "car", "zone", "cents")))


@dataclass(frozen=True)
class StreamShape:
    cars: int
    zones: int
    car_events: int
    zone_events: int


class StepSource:
    """The closed-loop step sequence of a streaming workload.

    The first step seeds the state: every car once at a uniform zone, then
    every zone once, so state size and fan-out are at their steady level
    before any timed step.  Every later step draws ``car_events`` uniform
    car moves, then ``zone_events`` uniform zone updates.  Within a step all
    car events precede all zone events in seq order.
    """

    def __init__(self, shape: StreamShape, seed: int) -> None:
        self.shape = shape
        self.rng = np.random.default_rng(seed)
        self.seq = 0
        self.steps = 0

    def next_step(self) -> Events:
        s, rng = self.shape, self.rng
        if self.steps == 0:
            cars = rng.permutation(np.arange(1, s.cars + 1))
            zones = rng.permutation(np.arange(ZONE_BASE, ZONE_BASE + s.zones))
        else:
            cars = rng.integers(1, s.cars + 1, s.car_events)
            zones = rng.integers(ZONE_BASE, ZONE_BASE + s.zones, s.zone_events)
        car_zones = rng.integers(ZONE_BASE, ZONE_BASE + s.zones, len(cars))
        self.steps += 1
        return _concat([
            self._stamp(cars, car_zones, rng.integers(0, MAX_FUEL_CENTS + 1, len(cars))),
            self._stamp(np.full(len(zones), -1), zones,
                        rng.integers(0, MAX_POLLUTION_CENTS + 1, len(zones))),
        ])

    def _stamp(self, car, zone, cents) -> Events:
        seq = np.arange(self.seq, self.seq + len(car))
        self.seq += len(car)
        return Events(seq, car.astype(np.int64), zone.astype(np.int64), cents.astype(np.int64))


def zipf_history(cars: int, zones: int, car_events: int, zone_events: int,
                 exponent: float, seed: int) -> Events:
    """One interleaved event history: cars uniform, zones of both car and
    zone events drawn from Zipf(``exponent``) over ``zones`` ranks."""
    rng = np.random.default_rng(seed)
    n = car_events + zone_events
    weights = 1.0 / np.arange(1, zones + 1) ** exponent
    zone_ids = rng.permutation(np.arange(ZONE_BASE, ZONE_BASE + zones))
    zone = zone_ids[rng.choice(zones, n, p=weights / weights.sum())]
    is_zone = np.zeros(n, dtype=bool)
    is_zone[rng.choice(n, zone_events, replace=False)] = True
    car = np.where(is_zone, -1, rng.integers(1, cars + 1, n))
    cents = np.where(is_zone, rng.integers(0, MAX_POLLUTION_CENTS + 1, n),
                     rng.integers(0, MAX_FUEL_CENTS + 1, n))
    return Events(np.arange(n, dtype=np.int64), car.astype(np.int64),
                  zone.astype(np.int64), cents.astype(np.int64))


def _money(cents: np.ndarray) -> list[str]:
    return [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]


def write_json_lines(ev: Events, directory: str, name: str) -> str:
    """Land ``ev`` as one JSON-lines file in ``directory``: written under a
    hidden name, then renamed, so a file-stream source never sees it half
    written.  Car events and zone events use their own field names."""
    is_car = len(ev) > 0 and ev.car[0] >= 0
    money = _money(ev.cents)
    if is_car:
        lines = [
            f'{{"seq":{s},"car_id":{c},"to_zone_id":{z},"fuel_level":{m}}}\n'
            for s, c, z, m in zip(ev.seq.tolist(), ev.car.tolist(), ev.zone.tolist(), money)
        ]
    else:
        lines = [
            f'{{"seq":{s},"zone_id":{z},"pollution_level":{m}}}\n'
            for s, z, m in zip(ev.seq.tolist(), ev.zone.tolist(), money)
        ]
    hidden = os.path.join(directory, f".{name}.tmp")
    with open(hidden, "w") as f:
        f.writelines(lines)
    final = os.path.join(directory, f"{name}.json")
    os.rename(hidden, final)
    return final


def write_parquet(ev: Events, directory: str, files: int) -> tuple[str, str]:
    """Write the car and zone events of ``ev`` as ``files`` parquet files
    each, under ``directory``/cars and ``directory``/zones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cars, zones = ev.cars(), ev.zones()
    tables = {
        "cars": pa.table({
            "seq": cars.seq, "car_id": cars.car.astype(np.int32),
            "zone_id": cars.zone.astype(np.int32), "fuel_level": cars.cents / 100.0,
        }),
        "zones": pa.table({
            "seq": zones.seq, "zone_id": zones.zone.astype(np.int32),
            "pollution_level": zones.cents / 100.0,
        }),
    }
    paths = []
    for name, table in tables.items():
        out = os.path.join(directory, name)
        os.makedirs(out)
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i}.parquet"))
        paths.append(out)
    return paths[0], paths[1]
