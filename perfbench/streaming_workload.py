"""Streaming workloads: the reference's two-stage topology, driven in closed
loop one step at a time.

  cars/*.json --text--> decode_json --> car_move_detection (stage 1)
      --> through/ (parquet) --> tag_car_moves --+
  zones/*.json --text--> decode_json --> tag_zone_events --+--> union
      --> symmetric_one_to_many_join (stage 2) --> sink/ (parquet)

Step protocol.  A step lands its car file, waits until stage 1 has
committed it and stage 2 has taken the resulting moves, then lands its zone
file and waits until stage 2 has committed the emissions for it.  Within a
step every car event precedes every zone event in seq order.  This is what
makes the output deterministic: the join orders events by
``(seq, emit_rank)`` only inside a micro-batch, and across micro-batches by
batch arrival order.  When a step's car and zone files were landed
together, stage 2 sometimes took the zone file in a micro-batch before that
step's car moves, and the emissions differed from the replay.  The
workloads therefore do not exercise cross-source interleaving inside a
step.  Waiting for stage 2 to take the moves also fixes the step at three
micro-batches; otherwise stage 2 takes moves and zones together or apart
depending on a race, and step latency is bimodal.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from events import StepSource, StreamShape, write_json_lines
from kafka_streams_one_to_many_join_spark.model import (
    CAR_ARRIVAL_EVENT,
    ZONE_EVENT,
    decode_json,
)
from kafka_streams_one_to_many_join_spark.sources import read_stream, write_stream
from kafka_streams_one_to_many_join_spark.streaming import (
    car_move_detection,
    symmetric_one_to_many_join,
    tag_car_moves,
    tag_zone_events,
)
from kafka_streams_one_to_many_join_spark.streaming.join import CAR_MOVE_EVENT_STREAM
from oracle import JoinReplay, spark_digest
from tracing import TaskCounter, Tracer

SHAPES = {
    "stream_churn_fanout": StreamShape(cars=1500, zones=15, car_events=1000, zone_events=125),
}

# the seeding step, then one ordinary step: the first ordinary step after
# seeding still runs measurably slower than the ones after it
WARMUP_STEPS = 2


class Topology:
    """Both queries of the topology over one fresh directory tree."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.dirs = {}
        for d in ("cars", "zones", "through", "sink", "cp1", "cp2"):
            self.dirs[d] = os.path.join(root, d)
            os.makedirs(self.dirs[d])
        cars = decode_json(read_stream(spark, "text", self.dirs["cars"]), CAR_ARRIVAL_EVENT)
        self.q1 = write_stream(
            car_move_detection(cars.select("seq", "car_id", "to_zone_id", "fuel_level")),
            "parquet", self.dirs["through"], checkpoint=self.dirs["cp1"],
        )
        moves = read_stream(spark, "parquet", self.dirs["through"], schema=CAR_MOVE_EVENT_STREAM)
        zones = decode_json(read_stream(spark, "text", self.dirs["zones"]), ZONE_EVENT)
        tagged = tag_car_moves(moves).unionByName(
            tag_zone_events(zones.select("seq", "zone_id", "pollution_level")))
        self.q2 = write_stream(
            symmetric_one_to_many_join(tagged),
            "parquet", self.dirs["sink"], checkpoint=self.dirs["cp2"],
        )
        self.seen_batches = {"stage1": -1, "stage2": -1}
        self.seen_files: dict[str, set[str]] = {"through": set(), "sink": set()}

    def step(self, ev, step: int, tr: Tracer) -> float:
        """Run one step; returns its latency: from the car file landing to
        stage 2 committing the zone file's emissions."""
        with tr.span("step", step):
            with tr.span("sources.write_car_file", step):
                cars_file = write_json_lines(ev.cars(), self.dirs["cars"], f"step-{step:05d}")
            landed = time.perf_counter()
            with tr.span("streaming.car_move_detection", step):
                self.q1.processAllAvailable()
            with tr.span("streaming.symmetric_one_to_many_join:moves", step):
                self.q2.processAllAvailable()
            with tr.span("sources.write_zone_file", step):
                zones_file = write_json_lines(ev.zones(), self.dirs["zones"], f"step-{step:05d}")
            with tr.span("streaming.symmetric_one_to_many_join:zones", step):
                self.q2.processAllAvailable()
            latency = time.perf_counter() - landed
        self.files = (cars_file, zones_file)
        return latency

    def stage_counters(self) -> dict[str, float]:
        """Per-layer counters of the micro-batches run since the last call,
        from each query's public ``StreamingQueryProgress``."""
        out: dict[str, float] = {"sources.list_ms": 0.0}
        for stage, q, sink in (("stage1", self.q1, "through"), ("stage2", self.q2, "sink")):
            new = [p for p in q.recentProgress
                   if p["batchId"] > self.seen_batches[stage] and p["numInputRows"] > 0]
            if new:
                self.seen_batches[stage] = max(p["batchId"] for p in new)
            d = [p["durationMs"] for p in new]
            st = [p["stateOperators"][0] for p in new]
            trig = sum(x.get("triggerExecution", 0) for x in d)
            add = sum(x.get("addBatch", 0) for x in d)
            out[f"{stage}.busy_s"] = trig / 1000.0
            out[f"{stage}.add_batch_ms"] = float(add)
            out[f"{stage}.overhead_ms"] = float(trig - add)
            out[f"{stage}.state_rows"] = float(st[-1]["numRowsTotal"]) if st else 0.0
            out[f"{stage}.state_rows_updated"] = float(sum(s["numRowsUpdated"] for s in st))
            out[f"{stage}.state_commit_ms"] = float(sum(s["commitTimeMs"] for s in st))
            out[f"{stage}.rows_in"] = float(sum(p["numInputRows"] for p in new))
            out[f"{stage}.rows_out"] = float(self._new_rows(sink))
            out["sources.list_ms"] += sum(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d)
        out["stage2.fanout_ratio"] = out["stage2.rows_out"] / max(out["stage2.rows_in"], 1.0)
        out["sources.sink_rows"] = out["stage2.rows_out"]
        return out

    def _new_rows(self, name: str) -> int:
        rows = 0
        for f in sorted(os.listdir(self.dirs[name])):
            if f.endswith(".parquet") and f not in self.seen_files[name]:
                self.seen_files[name].add(f)
                rows += pq.read_metadata(os.path.join(self.dirs[name], f)).num_rows
        return rows

    def decode(self, step: int, tr: Tracer) -> tuple[float, int]:
        """Time the step's JSON through ``decode_json`` into a noop sink;
        returns (seconds, corrupt records)."""
        t0 = time.perf_counter()
        decoded = []
        with tr.span("model.decode_json", step):
            for path, schema in zip(self.files, (CAR_ARRIVAL_EVENT, ZONE_EVENT)):
                df = decode_json(self.spark.read.text(path), schema)
                df.write.format("noop").mode("overwrite").save()
                decoded.append(df)
        seconds = time.perf_counter() - t0
        corrupt = sum(df.filter(F.col("_corrupt_record").isNotNull()).count()
                      for df in decoded)
        return seconds, corrupt

    def stop(self) -> None:
        for q in (self.q1, self.q2):
            q.stop()

    def digest(self) -> tuple[int, int]:
        return spark_digest(self.spark.read.parquet(self.dirs["sink"]))


class StreamingRun:
    """One phase of a streaming workload: set up, warm up, run timed steps
    for ``seconds``, then check the sink against the replay oracle."""

    def __init__(self, host, workload: str, seed: int) -> None:
        self.host, self.shape, self.seed = host, SHAPES[workload], seed
        self.phase = 0
        self.topo = None

    def setup(self, cores: int) -> float:
        """Session start, query start and the warm-up steps; returns seconds."""
        if self.topo is not None:
            self.topo.stop()
        t0 = time.perf_counter()
        self.host.start_session(cores)
        self.phase += 1
        self.topo = Topology(self.host.spark, self.host.path(f"phase-{self.phase}"))
        self.source = StepSource(self.shape, self.seed)
        self.history = []
        for _ in range(WARMUP_STEPS):
            self.history.append(self.source.next_step())
            self.topo.step(self.history[-1], len(self.history) - 1, Tracer(False))
        return time.perf_counter() - t0

    def timed(self, seconds: float, tr: Tracer) -> dict:
        """Closed-loop steps until ``seconds`` have passed (at least one)."""
        latencies, layers = [], []
        tasks = TaskCounter(self.host.spark) if tr.enabled else None
        if tasks:
            tasks.delta([self.topo.q1.runId, self.topo.q2.runId])
            self.topo.stage_counters()
        t0 = time.perf_counter()
        while not latencies or time.perf_counter() - t0 < seconds:
            ev = self.source.next_step()
            self.history.append(ev)
            latencies.append(self.topo.step(ev, len(self.history) - 1, tr))
            if tr.enabled:
                layers.append(self._layer_counters(len(self.history) - 1, tr, tasks))
        wall = time.perf_counter() - t0
        return {"wall": wall, "latencies": latencies, "layers": layers,
                "events": sum(len(e) for e in self.history[WARMUP_STEPS:])}

    def _layer_counters(self, step: int, tr: Tracer, tasks: TaskCounter) -> dict:
        c = self.topo.stage_counters()
        c["model.decode_json_s"], c["model.corrupt_records"] = self.topo.decode(step, tr)
        c["spark.tasks"], c["spark.failed_tasks"] = tasks.delta(
            [self.topo.q1.runId, self.topo.q2.runId])
        step_span = next(s for s in reversed(tr.spans) if s["name"] == "step")
        step_span["counters"].update(c)
        return c

    def finish(self) -> tuple[bool, int]:
        """Stop the queries and compare the sink with the replay oracle;
        returns (outputs equal, joined rows emitted in the timed steps)."""
        self.topo.stop()
        replay = JoinReplay()
        for ev in self.history[:WARMUP_STEPS]:
            replay.replay(ev)
        warm_rows = replay.rows
        for ev in self.history[WARMUP_STEPS:]:
            replay.replay(ev)
        return self.topo.digest() == replay.digest(), replay.rows - warm_rows
