"""Connector configuration surface — the CassandraConnectorConfig analog.

Accepts the reference's property KEYS with the reference's defaults and
value grammars (core/.../CassandraConnectorConfig.java):

- ``snapshot.mode``                       initial | always | never  (:326)
- ``decimal.handling.mode``               precise | double | string (:85-159)
- ``varint.handling.mode``                precise | long | string   (:161-238)
- ``field.exclude.list``                  "ks.tbl.col,ks.tbl.col2"  (FIELD_EXCLUDE_LIST)
- ``tombstones.on.delete``                default false             (:514)
- ``event.order.guarantee.mode``          commitlog_file | partition_values (:246-288, :552)
- ``num.of.change.event.queues``          default 1                 (:476)
- ``commit.log.error.reprocessing.enabled`` default false           (:380)
- ``commit.log.post.processing.enabled``  default true              (:374)
- ``tracing.enabled``                     default false             (:360)

plus engine-native keys for Spark-side knobs the reference has no analog
for (``spark.segments.per.batch``, ``spark.n.buckets``,
``spark.tombstone.gc.grace.us``, ``spark.tombstone.gc.every.batches``,
``spark.payload.format``, ``spark.batch.mutations``).

Transport-level keys the reference forwards to Kafka/HTTP/JMX
(``kafka.producer.*``, ``http.port``, converters, offset flush tuning) are
out of scope per SURVEY — they configure the emission transport this
engine replaces with the lake export. Unknown keys raise, so a typo'd
knob cannot silently no-op (stricter than the reference, which forwards
unknowns to Kafka).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .functions.types import DecimalMode, TypeMapper, VarintMode

_ENUMS = {
    "snapshot.mode": ("initial", "always", "never"),
    "decimal.handling.mode": (DecimalMode.PRECISE, DecimalMode.DOUBLE, DecimalMode.STRING),
    "varint.handling.mode": (VarintMode.PRECISE, VarintMode.LONG, VarintMode.STRING),
    "event.order.guarantee.mode": ("commitlog_file", "partition_values"),
    "spark.payload.format": ("json", "binary"),
}
_BOOLS = {
    "tombstones.on.delete": False,
    "commit.log.error.reprocessing.enabled": False,
    "commit.log.post.processing.enabled": True,
    "tracing.enabled": False,
    "spark.batch.mutations": False,
    "spark.export.changes": False,
    "spark.unpaired.range.markers": False,
}
_INTS = {
    "num.of.change.event.queues": 1,
    "spark.segments.per.batch": 8,
    "spark.n.buckets": 16,
    "spark.tombstone.gc.every.batches": 8,
}
_DEFAULTS = {
    "snapshot.mode": "initial",
    "decimal.handling.mode": DecimalMode.DOUBLE,
    "varint.handling.mode": VarintMode.LONG,
    "event.order.guarantee.mode": None,  # None = no per-queue routing pass
    "field.exclude.list": "",
    "spark.payload.format": "json",
    "spark.tombstone.gc.grace.us": None,
}
_KNOWN = set(_ENUMS) | set(_BOOLS) | set(_INTS) | set(_DEFAULTS)


@dataclass
class CdcConfig:
    """Validated view over a reference-style properties dict."""

    props: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        unknown = sorted(set(self.props) - _KNOWN)
        if unknown:
            raise ValueError(f"unknown configuration keys: {unknown}")
        for key, allowed in _ENUMS.items():
            v = self.props.get(key)
            if v is not None and str(v).lower() not in allowed:
                raise ValueError(f"{key}={v!r}: expected one of {sorted(allowed)}")
        for key in _BOOLS:
            v = self.props.get(key)
            if v is not None and str(v).lower() not in ("true", "false"):
                raise ValueError(f"{key}={v!r}: expected true|false")
        for key in _INTS:
            v = self.props.get(key)
            if v is not None:
                int(v)  # raises ValueError on garbage

    # -- typed accessors (reference getter names where one exists) ----------
    def _enum(self, key: str):
        v = self.props.get(key, _DEFAULTS.get(key))
        return str(v).lower() if v is not None else None

    def _bool(self, key: str) -> bool:
        v = self.props.get(key)
        return _BOOLS[key] if v is None else str(v).lower() == "true"

    def _int(self, key: str) -> int:
        return int(self.props.get(key, _INTS[key]))

    def snapshot_mode(self) -> str:
        return self._enum("snapshot.mode")

    def field_exclude_list(self) -> tuple[str, ...]:
        """Fully-qualified ``ks.tbl.col`` entries, as the reference keeps
        them (fieldExcludeList getter)."""
        raw = self.props.get("field.exclude.list", "")
        return tuple(p.strip() for p in str(raw).split(",") if p.strip())

    def excluded_fields(self) -> tuple[str, ...]:
        """Bare column names for the single-table runner (the last dotted
        component of each entry)."""
        return tuple(e.rsplit(".", 1)[-1] for e in self.field_exclude_list())

    def tombstones_on_delete(self) -> bool:
        return self._bool("tombstones.on.delete")

    def event_order_guarantee_mode(self) -> str | None:
        return self._enum("event.order.guarantee.mode")

    def num_of_change_event_queues(self) -> int:
        return self._int("num.of.change.event.queues")

    def error_commit_log_reprocess_enabled(self) -> bool:
        return self._bool("commit.log.error.reprocessing.enabled")

    def post_process_enabled(self) -> bool:
        return self._bool("commit.log.post.processing.enabled")

    def tracing_enabled(self) -> bool:
        return self._bool("tracing.enabled")

    def type_mapper(self, udts: dict | None = None) -> TypeMapper:
        """decimal/varint handling modes applied to the type registry."""
        return TypeMapper(
            decimal_mode=self._enum("decimal.handling.mode"),
            varint_mode=self._enum("varint.handling.mode"),
            udts=udts or {},
        )

    def runner_kwargs(self) -> dict:
        """CdcRunner keyword arguments this configuration implies."""
        gc_grace = self.props.get("spark.tombstone.gc.grace.us")
        out = {
            "segments_per_batch": self._int("spark.segments.per.batch"),
            "n_buckets": self._int("spark.n.buckets"),
            "excluded_fields": self.excluded_fields(),
            "tombstones_on_delete": self.tombstones_on_delete(),
            "routing_mode": self.event_order_guarantee_mode(),
            "n_queues": self.num_of_change_event_queues(),
            "payload_format": self._enum("spark.payload.format"),
            "batch_mutations": self._bool("spark.batch.mutations"),
            "export_changes": self._bool("spark.export.changes")
            or self.tracing_enabled(),
            "tracing": self.tracing_enabled(),
            "unpaired_range_markers": self._bool("spark.unpaired.range.markers"),
            "gc_grace_us": int(gc_grace) if gc_grace is not None else None,
            "gc_every_batches": self._int("spark.tombstone.gc.every.batches"),
        }
        return out

    def build_runner(self, spark, log_path: str, target_path: str, **overrides):
        """Construct a CdcRunner from this configuration (the
        CassandraConnectorTask wiring analog)."""
        from .sources.log_scan import on_disk_columns
        from .streaming.runner import CdcRunner

        kwargs = self.runner_kwargs()
        if "payload" in (on_disk_columns(spark, log_path) or ()):
            # the log carries serialized payload bytes (S5): read the on-disk
            # schema, which keeps ``payload``, and decode them with the
            # configured codec (``spark.payload.format``)
            kwargs.update(decode_binary=True, log_schema="infer")
        kwargs.update(overrides)
        return CdcRunner(spark, log_path, target_path, **kwargs)

    def build_multi_runner(
        self, spark, log_path: str, target_root: str, specs, **overrides
    ):
        """Construct a MultiTableRunner — only the knobs that exist at the
        multi-table surface apply (routing/tracing/field-exclude are
        single-table concerns there)."""
        from .streaming.multi_table import MultiTableRunner

        kw = self.runner_kwargs()
        kwargs = {
            k: kw[k]
            for k in (
                "segments_per_batch",
                "n_buckets",
                "tombstones_on_delete",
                "payload_format",
                "batch_mutations",
                "export_changes",
                "gc_grace_us",
                "gc_every_batches",
            )
        }
        kwargs.update(overrides)
        return MultiTableRunner(spark, log_path, target_root, specs, **kwargs)
