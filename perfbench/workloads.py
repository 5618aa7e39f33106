"""The workloads: how each one's commit log is generated and how its runner
is built. The seed reaches the log generator only; the engine sees only the
written log.

Every workload is a closed loop: one runner, one batch in flight, draining a
log that was fully written before timing starts (the catch-up after a
restart). The log holds, in segment order:

    set-up segments  -> drained as one bulk batch during set-up: it builds
                        the starting state and warms the JVM up on the
                        whole batch path
    timed segments   -> batches of ``segments_per_batch`` segments inside
                        the timed window

The timed part is a fixed number of batches, sized from ``--seconds``. Every
run drains the whole log, so the final state's fingerprint depends only on
(workload, seed, seconds).
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import asdict, dataclass

from debezium_connector_cassandra_spark.functions.binary_codec import encode_payload_binary
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    write_mutation_log,
    writetime_inversion_window_us,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner


@dataclass(frozen=True)
class Workload:
    name: str
    events_per_segment: int
    segments_per_batch: int
    setup_segments: int
    n_convs: int
    max_turns: int
    binary_payload: bool  # payload_format="binary" + decode_binary=True
    tombstone_gc: bool
    # wall of one timed batch on the reference host: the timed part of the
    # log holds ceil(seconds / nominal_batch_s) batches
    nominal_batch_s: float

    def timed_batches(self, seconds: float) -> int:
        return max(1, math.ceil(seconds / self.nominal_batch_s))

    def n_segments(self, seconds: float) -> int:
        return self.setup_segments + self.timed_batches(seconds) * self.segments_per_batch

    def log_key(self, seed: int, seconds: float) -> str:
        """Identifies the generated log: the stored fingerprint of one key is
        valid only for exactly this log."""
        params = asdict(self)
        params.pop("nominal_batch_s")
        params.pop("segments_per_batch")
        params["n_segments"] = self.n_segments(seconds)
        digest = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
        return f"{self.name}:seed={seed}:{digest}"

    # -- inputs ---------------------------------------------------------------
    def typed_log(self, spark, seed: int, seconds: float):
        """The producer's log before any payload encoding: also the input of
        the replay oracle."""
        return gen_mutation_log(
            spark,
            self.n_segments(seconds) * self.events_per_segment,
            n_convs=self.n_convs,
            max_turns=self.max_turns,
            events_per_segment=self.events_per_segment,
            seed=seed,
        )

    def write_log(self, spark, path: str, seed: int, seconds: float) -> None:
        log = self.typed_log(spark, seed, seconds)
        if self.binary_payload:
            log = encode_payload_binary(log)
        write_mutation_log(log, path)

    # -- engine ---------------------------------------------------------------
    def make_runner(self, spark, log_path: str, target_path: str) -> CdcRunner:
        kwargs = {}
        if self.binary_payload:
            kwargs.update(log_schema="infer", decode_binary=True, payload_format="binary")
        if self.tombstone_gc:
            # a sweep after every batch, so each timed batch does the same work
            kwargs.update(gc_grace_us=writetime_inversion_window_us(), gc_every_batches=1)
        return CdcRunner(
            spark, log_path, target_path, segments_per_batch=self.segments_per_batch, **kwargs
        )


WORKLOADS = {
    w.name: w
    for w in (
        # typed log, large state, uniform conversations: every batch rewrites
        # almost every state bucket, so merge + copy-on-write + the per-batch
        # job floor do the work and no payload decode runs
        Workload(
            name="steady_merge",
            events_per_segment=20_000,
            segments_per_batch=1,
            setup_segments=3,
            n_convs=5_000,
            max_turns=40,
            binary_payload=False,
            tombstone_gc=True,
            nominal_batch_s=8.0,
        ),
        # binary payloads, ~2k conversations, large batches: the vectorized
        # mapInPandas decode and the reduce shuffle dominate while the merge
        # writes a small state
        Workload(
            name="bulk_decode",
            events_per_segment=25_000,
            segments_per_batch=1,
            setup_segments=1,
            n_convs=2_000,
            max_turns=10,
            binary_payload=True,
            tombstone_gc=False,
            nominal_batch_s=15.0,
        ),
    )
}
