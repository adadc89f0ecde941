"""Batch workload: the batch operators over one skewed event history.

A round runs three queries into a ``noop`` sink: the event-level join trace
(``one_to_many_join_trace``), the snapshot join (``latest_by_key`` twice,
then ``one_to_many_join``) and the arrive/leave expansion (``car_moves``
then ``arrive_leave_events``).  Catalyst shuffles, the as-of join and the
bucketed interval join run under key skew; no Python worker or state store
is involved.
"""

from __future__ import annotations

import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from events import write_parquet, zipf_history
from kafka_streams_one_to_many_join_spark import operators as ops
from kafka_streams_one_to_many_join_spark.plans import count_scans, count_shuffles
from kafka_streams_one_to_many_join_spark.sources import read_batch
from oracle import JoinReplay, moves_digest, spark_digest, spark_moves_digest
from tracing import TaskCounter, Tracer

CARS = 4000
ZONES = 50
CAR_EVENTS = 100_000
ZONE_EVENTS = 10_000
ZIPF_EXPONENT = 1.1
FILES = 4
# rounds keep getting faster over the first several (the first one much
# slower); a timed window that still held warming rounds would count more
# of them whenever the host ran slow, which amplified the slowdown
WARMUP_ROUNDS = 4


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BatchRun:
    def __init__(self, host, seed: int) -> None:
        self.host = host
        self.history = zipf_history(CARS, ZONES, CAR_EVENTS, ZONE_EVENTS, ZIPF_EXPONENT, seed)
        self.cars_path, self.zones_path = write_parquet(self.history, host.path("input"), FILES)
        self.expected = None

    def setup(self, cores: int) -> float:
        """Session start, plan construction and warm-up rounds; returns
        seconds."""
        t0 = time.perf_counter()
        self.host.start_session(cores)
        self._build()
        for _ in range(WARMUP_ROUNDS):
            for df in self.queries.values():
                _noop(df)
        return time.perf_counter() - t0

    def _build(self) -> None:
        spark = self.host.spark
        self.cars = read_batch(spark, "parquet", self.cars_path)
        self.zones = read_batch(spark, "parquet", self.zones_path)
        self._cached = None
        self.queries = {
            "trace": ops.one_to_many_join_trace(self.cars, self.zones),
            "snapshot": ops.one_to_many_join(
                ops.latest_by_key(self.cars, "car_id", "seq", ["zone_id", "fuel_level"]),
                ops.latest_by_key(self.zones, "zone_id", "seq", ["pollution_level"]),
                "zone_id",
            ),
            "moves": ops.arrive_leave_events(ops.car_moves(self.cars, zone="zone_id")),
        }

    def timed(self, seconds: float, tr: Tracer) -> dict:
        """Rounds of the three queries until ``seconds`` have passed (at
        least one); with tracing on, each round also times every operator
        on its own."""
        rounds, layers = [], []
        tasks = TaskCounter(self.host.spark) if tr.enabled else None
        t0 = time.perf_counter()
        while not rounds or time.perf_counter() - t0 < seconds:
            step = len(rounds)
            r0 = time.perf_counter()
            with tr.span("round", step):
                for name, df in self.queries.items():
                    with tr.span(f"query.{name}", step):
                        self._run(df, f"{name}-{step}", tasks)
            rounds.append(time.perf_counter() - r0)
            if tr.enabled:
                layers.append(self._operator_layers(step, tr, tasks))
        self.rounds = len(rounds)
        return {"wall": time.perf_counter() - t0, "latencies": rounds, "layers": layers,
                "events": len(self.history) * len(rounds)}

    def _run(self, df, group: str, tasks: TaskCounter | None) -> None:
        if tasks:
            self.host.spark.sparkContext.setJobGroup(group, group)
        _noop(df)

    def _operator_layers(self, step: int, tr: Tracer, tasks: TaskCounter) -> dict:
        """Each operator called on its own, its inputs cached beforehand so
        that a span times that operator and nothing upstream of it."""
        if self._cached is None:
            w = Window.partitionBy("car_id").orderBy("seq")
            self._cached = {
                "latest_cars": ops.latest_by_key(self.cars, "car_id", "seq",
                                                 ["zone_id", "fuel_level"]),
                "latest_zones": ops.latest_by_key(self.zones, "zone_id", "seq",
                                                  ["pollution_level"]),
                "moves": ops.car_moves(self.cars, zone="zone_id"),
                "intervals": self.cars.select(
                    "car_id", "zone_id", "fuel_level", F.col("seq").alias("start"),
                    F.lead("seq").over(w).alias("end")),
            }
            for df in self._cached.values():
                df.cache().count()
        c = self._cached
        calls = {
            "latest_by_key": lambda: [ops.latest_by_key(self.cars, "car_id", "seq",
                                                        ["zone_id", "fuel_level"]),
                                      ops.latest_by_key(self.zones, "zone_id", "seq",
                                                        ["pollution_level"])],
            "one_to_many_join": lambda: [ops.one_to_many_join(
                c["latest_cars"], c["latest_zones"], "zone_id")],
            "car_moves": lambda: [ops.car_moves(self.cars, zone="zone_id")],
            "arrive_leave_events": lambda: [ops.arrive_leave_events(c["moves"])],
            "asof_join": lambda: [ops.asof_join(self.cars, self.zones, "zone_id", "seq",
                                                ["pollution_level"])],
            "bucketed_interval_join": lambda: [ops.bucketed_interval_join(
                self.zones, c["intervals"], "zone_id", "seq", "start", "end")],
            "one_to_many_join_trace": lambda: [ops.one_to_many_join_trace(
                self.cars, self.zones)],
        }
        out = {}
        for name, call in calls.items():
            t0 = time.perf_counter()
            with tr.span(f"operators.{name}", step):
                for df in call():
                    self._run(df, f"op-{name}-{step}", tasks)
            out[f"operators.{name}_s"] = time.perf_counter() - t0
        trace = self.queries["trace"]
        out["operators.trace_shuffles"] = float(count_shuffles(trace))
        out["operators.trace_scans"] = float(count_scans(trace))
        expected = self.expect()
        out["operators.trace_rows"] = float(expected["trace"][0])
        out["sources.sink_rows"] = float(sum(v[0] for v in expected.values()))
        out["spark.tasks"], out["spark.failed_tasks"] = tasks.delta(
            [f"{q}-{step}" for q in self.queries]
            + [f"op-{n}-{step}" for n in calls])
        return out

    def expect(self) -> dict[str, tuple[int, int]]:
        """Replay-oracle digests of the three query outputs."""
        if self.expected is None:
            replay = JoinReplay()
            replay.replay(self.history)
            self.expected = {
                "trace": replay.digest(),
                "snapshot": replay.snapshot_digest(),
                "moves": moves_digest(self.history),
            }
        return self.expected

    def finish(self) -> tuple[bool, int]:
        """Compare every query's output with the replay oracle; returns
        (outputs equal, joined rows emitted in the timed rounds)."""
        expected = self.expect()
        got = {
            "trace": spark_digest(self.queries["trace"]),
            "snapshot": spark_digest(self.queries["snapshot"]),
            "moves": spark_moves_digest(self.queries["moves"]),
        }
        # joined rows of a round: the trace plus the snapshot
        return got == expected, (expected["trace"][0] + expected["snapshot"][0]) * self.rounds
