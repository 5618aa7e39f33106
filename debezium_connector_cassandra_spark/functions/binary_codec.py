"""S5 full form — a REAL binary commit-log payload codec.

The reference delegates segment parsing to Cassandra's own binary reader
(``Cassandra4CommitLogSegmentReader.java:29-33``), which decodes every
mutation against its table's schema (SchemaHolder lookup + one
CommitLogReader). Without a live Cassandra the engine defines its own
compact binary mutation encoding, driven the same way by the table's
``TableSpec``: one record layout for every table, and single-table capture
is the ``TRANSCRIPTS_SPEC`` case. The JSON payload (``decode.encode_payload``
/ ``decode_payload_jvm``) remains as the cross-check twin; tests assert
parity.

Record layout, n = len(spec.payload) cells, B = ceil(n/8), little-endian:

    offset   size  field
    0        B     set bitmap       (bit i%8 of byte i//8: cell i carries a
                                     value or assignment)
    B        B     null bitmap      (set cell i assigns NULL)
    2B       B     deletion bitmap  (cell i has deletion_ts)
    3B       8n    deletion_ts[n]   (i64; 0 where the bit is unset)
    3B+8n    8n    value slots[n]   (i64: int/bool value, double bit pattern,
                                     timestamp epoch micros, or the byte
                                     length of a string cell's tail; 0 when
                                     the cell is unset or NULL)
    3B+16n   ...   string tails     (set non-NULL string cells, cell order,
                                     utf-8)

Supported cell types: string, tinyint..bigint, boolean, double, timestamp.
Others raise — collection/UDT payloads use the JSON codec.

A fixed-width header plus length-prefixed tails is what makes both
directions vectorizable: every header field is arithmetic over the record
start offsets (one structured-dtype view), and the string tails move with
the segment index trick (repeat + arange), one fancy-index per column. The
encoder and the decoder are each one numpy kernel per Arrow batch inside
``mapInPandas`` — no per-row Python. ``_encode_cells_py`` is the scalar
reference packer the vectorized encoder is tested byte-for-byte against.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..model import TRANSCRIPTS_SPEC


def _spec_kinds(spec) -> list[str]:
    kinds = []
    for name, dtype in spec.payload:
        s = dtype.simpleString()
        if s == "string":
            kinds.append("str")
        elif s in ("bigint", "int", "smallint", "tinyint"):
            kinds.append("int")
        elif s == "boolean":
            kinds.append("bool")
        elif s == "double":
            kinds.append("double")
        elif s == "timestamp":
            kinds.append("ts")
        else:
            raise NotImplementedError(
                f"binary codec: unsupported cell type {s!r} for {name!r} "
                "(string/int/boolean/double/timestamp supported; use the JSON "
                "codec for collection/UDT payloads)"
            )
    return kinds


def _header_dtype(n: int) -> np.dtype:
    """The fixed record header for n cells, packed (no alignment padding)."""
    nb = (n + 7) // 8
    return np.dtype(
        [
            ("set", "u1", (nb,)),
            ("null", "u1", (nb,)),
            ("del", "u1", (nb,)),
            ("dels", "<i8", (n,)),
            ("slots", "<i8", (n,)),
        ]
    )


def _segment_index(pos: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat byte index of the segments [pos[i], pos[i]+lens[i]) laid end to
    end — vectorized (repeat + arange). Indexing with it gathers the
    segments into one contiguous buffer; assigning through it scatters one
    contiguous buffer back out."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if len(ends) else 0
    return np.repeat(pos - (ends - lens), lens) + np.arange(total, dtype=np.int64)


def _varbinary_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(int64 offsets, uint8 data) of a large_string / large_binary array."""
    _, offs, data = arr.buffers()
    offsets = np.frombuffer(offs, dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    return offsets, (
        np.frombuffer(data, dtype=np.uint8) if data is not None else np.empty(0, np.uint8)
    )


# ---------------------------------------------------------------------------
# encoder (producer side — the Cassandra-node analog writing segments)
# ---------------------------------------------------------------------------

def _encode_cells_py(cells, spec=TRANSCRIPTS_SPEC) -> bytes | None:
    """Scalar reference packer: ONE cells struct (Row / dict) -> payload."""
    if cells is None:
        return None
    kinds = _spec_kinds(spec)
    n = len(kinds)
    nb = (n + 7) // 8
    set_b, null_b, del_b = bytearray(nb), bytearray(nb), bytearray(nb)
    dels, slots, tails = [0] * n, [0] * n, []
    for i, ((name, _), kind) in enumerate(zip(spec.payload, kinds)):
        c = cells[name]
        if c is None:
            continue
        byte, bit = i // 8, 1 << (i % 8)
        if c["deletion_ts"] is not None:
            del_b[byte] |= bit
            dels[i] = int(c["deletion_ts"])
        if not c["set"]:
            continue
        set_b[byte] |= bit
        v = c["value"]
        if v is None:
            null_b[byte] |= bit
        elif kind == "str":
            tails.append(str(v).encode("utf-8"))
            slots[i] = len(tails[-1])
        elif kind == "double":
            slots[i] = struct.unpack("<q", struct.pack("<d", float(v)))[0]
        elif kind == "ts":
            slots[i] = pd.Timestamp(v).value // 1000  # ns -> us
        else:  # int / bool
            slots[i] = int(v)
    return (
        bytes(set_b + null_b + del_b)
        + struct.pack(f"<{n}q", *dels)
        + struct.pack(f"<{n}q", *slots)
        + b"".join(tails)
    )


def _flat_value(v: F.Column, kind: str) -> F.Column:
    """A cell value as the encoder kernel reads it. Nullable integers
    degrade to float64 across Arrow -> pandas (silent precision loss past
    2^53), so numeric kinds ship non-null with the NULL flag beside them."""
    if kind in ("int", "bool"):
        return F.coalesce(v.cast("long"), F.lit(0).cast("long"))
    if kind == "double":
        return F.coalesce(v, F.lit(0.0))
    return v  # str: object with None; ts: datetime64 with NaT


def _encode_batch(pdf: pd.DataFrame, spec) -> np.ndarray:
    """Pack one Arrow batch of flattened cells (``encode_payload_binary``'s
    ``_c{i}_*`` columns) into payloads — pure numpy. The headers fill one
    structured array; the string tails scatter with the segment index.
    Returns an object array of bytes, None where the cells struct is NULL."""
    import pyarrow as pa

    kinds = _spec_kinds(spec)
    present = pdf["_has_cells"].to_numpy(dtype=bool)
    dtype = _header_dtype(len(kinds))
    head = np.zeros(int(present.sum()), dtype=dtype)
    tails = []  # (source bytes, source starts, lengths) per string cell
    for i, kind in enumerate(kinds):
        def col(field, np_dtype=None):
            return pdf[f"_c{i}_{field}"].to_numpy(dtype=np_dtype)[present]

        byte, bit = i // 8, np.uint8(1 << (i % 8))
        is_set = col("set", bool)
        is_null = is_set & col("null", bool)
        has_val = is_set & ~is_null
        head["set"][:, byte] |= is_set * bit
        head["null"][:, byte] |= is_null * bit
        head["del"][:, byte] |= col("hasdel", bool) * bit
        head["dels"][:, i] = col("del", np.int64)
        if kind == "str":
            offs, data = _varbinary_buffers(
                pa.array(pdf[f"_c{i}_value"][present], type=pa.large_string(), from_pandas=True)
            )
            lens = np.where(has_val, np.diff(offs), 0)
            tails.append((data, offs[:-1], lens))
            slot = lens
        elif kind == "ts":
            slot = col("value", "datetime64[ns]").view(np.int64) // 1000
        elif kind == "double":
            slot = col("value", np.float64).view(np.int64)
        else:
            slot = col("value", np.int64)
        head["slots"][:, i] = np.where(has_val, slot, 0)

    rec_lens = np.zeros(len(present), dtype=np.int64)
    rec_lens[present] = dtype.itemsize + sum(lens for _, _, lens in tails)
    offsets = np.concatenate([[0], np.cumsum(rec_lens)])
    buf = np.empty(int(offsets[-1]), dtype=np.uint8)
    starts = offsets[:-1][present]
    buf[(starts[:, None] + np.arange(dtype.itemsize)).ravel()] = head.view(np.uint8)
    pos = starts + dtype.itemsize
    for data, src, lens in tails:
        buf[_segment_index(pos, lens)] = data[_segment_index(src, lens)]
        pos = pos + lens
    arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        len(present),
        [pa.py_buffer(np.packbits(present, bitorder="little")), pa.py_buffer(offsets), pa.py_buffer(buf)],
    )
    return arr.to_numpy(zero_copy_only=False)


def encode_payload_binary(df: DataFrame, spec=TRANSCRIPTS_SPEC) -> DataFrame:
    """cells -> binary payload under ``spec``'s layout (producer side). The
    cells struct is flattened to primitive columns JVM-side first so the
    kernel sees numpy-native Series; the payload column replaces cells at
    the end of the row."""
    kinds = _spec_kinds(spec)
    passthrough = [f for f in df.schema.fields if f.name != "cells"]
    pass_names = [f.name for f in passthrough]
    out_schema = T.StructType(passthrough + [T.StructField("payload", T.BinaryType(), True)])
    flat_cols = [F.col("cells").isNotNull().alias("_has_cells")]
    for i, ((name, _), kind) in enumerate(zip(spec.payload, kinds)):
        c = F.col("cells")[name]
        flat_cols += [
            F.coalesce(c["set"], F.lit(False)).alias(f"_c{i}_set"),
            c["value"].isNull().alias(f"_c{i}_null"),
            c["deletion_ts"].isNotNull().alias(f"_c{i}_hasdel"),
            F.coalesce(c["deletion_ts"], F.lit(0).cast("long")).alias(f"_c{i}_del"),
            _flat_value(c["value"], kind).alias(f"_c{i}_value"),
        ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {c: pdf[c] for c in pass_names}
            cols["payload"] = _encode_batch(pdf, spec)
            yield pd.DataFrame(cols)

    return df.select(*pass_names, *flat_cols).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# decoder (hot path)
# ---------------------------------------------------------------------------

def _decode_batch(payload: pd.Series, spec) -> dict[str, np.ndarray | pd.Series]:
    """Decode one Arrow batch of payloads into flat ``_c{i}_value`` /
    ``_c{i}_del`` / ``_c{i}_set`` columns — pure numpy. NULL payloads
    (tombstone ops) yield all-unset rows; the caller masks the struct to
    NULL JVM-side."""
    import pyarrow as pa

    kinds = _spec_kinds(spec)
    dtype = _header_dtype(len(kinds))
    arr = pa.array(payload, type=pa.large_binary(), from_pandas=True)
    offsets, data = _varbinary_buffers(arr)
    present = arr.is_valid().to_numpy(zero_copy_only=False)
    present_idx = np.flatnonzero(present)
    starts = offsets[:-1][present]
    n_rows = len(payload)
    head = data[(starts[:, None] + np.arange(dtype.itemsize)).ravel()].view(dtype)

    def expand(vals: np.ndarray) -> np.ndarray:
        """Scatter per-present-record object values back to batch grain."""
        full = np.full(n_rows, None, dtype=object)
        full[present_idx] = vals
        return full

    out: dict[str, np.ndarray | pd.Series] = {}
    pos = starts + dtype.itemsize  # next string tail, per record
    for i, kind in enumerate(kinds):
        byte, bit = i // 8, 1 << (i % 8)
        is_set = (head["set"][:, byte] & bit) > 0
        has_val = is_set & ~((head["null"][:, byte] & bit) > 0)
        has_del = (head["del"][:, byte] & bit) > 0
        slot = head["slots"][:, i]
        if kind == "ts":
            full = np.full(n_rows, np.datetime64("NaT"), dtype="datetime64[ns]")
            full[present_idx[has_val]] = (slot[has_val] * 1000).astype("datetime64[ns]")
            out[f"_c{i}_value"] = pd.Series(full)
        else:
            if kind == "str":
                lens = np.where(has_val, slot, 0)
                buf = data[_segment_index(pos, lens)]
                pos = pos + lens
                # zero-copy Arrow string build — utf-8 materializes C-side
                vals = pa.LargeStringArray.from_buffers(
                    len(lens),
                    pa.py_buffer(np.concatenate([[0], np.cumsum(lens)])),
                    pa.py_buffer(buf),
                ).to_numpy(zero_copy_only=False)
            elif kind == "double":
                vals = slot.view(np.float64).astype(object)
            elif kind == "bool":
                vals = (slot != 0).astype(object)
            else:
                vals = slot.astype(object)
            vals[~has_val] = None
            out[f"_c{i}_value"] = expand(vals)
        dels = head["dels"][:, i].astype(object)
        dels[~has_del] = None
        out[f"_c{i}_del"] = expand(dels)
        set_full = np.zeros(n_rows, dtype=bool)
        set_full[present_idx] = is_set
        out[f"_c{i}_set"] = set_full
    return out


def decode_payload_binary(df: DataFrame, spec=TRANSCRIPTS_SPEC) -> DataFrame:
    """Binary payload -> ``spec``'s typed cells. mapInPandas with a flat
    intermediate schema (numpy-friendly primitive columns); the cells struct
    reassembles JVM-side in whole-stage codegen, with NULL-payload rows
    mapping to a NULL struct exactly like ``from_json(NULL)`` in the JSON
    twin. Drops the multi-table routing columns, like
    ``decode.decode_payload_jvm``."""
    passthrough = [f for f in df.schema.fields if f.name not in ("payload", "keyspace", "table")]
    pass_names = [f.name for f in passthrough]
    flat_fields = []
    for i, (_, dtype) in enumerate(spec.payload):
        flat_fields += [
            T.StructField(f"_c{i}_value", dtype, True),
            T.StructField(f"_c{i}_del", T.LongType(), True),
            T.StructField(f"_c{i}_set", T.BooleanType(), True),
        ]
    out_schema = T.StructType(
        passthrough + [T.StructField("_has_cells", T.BooleanType(), False)] + flat_fields
    )
    _spec_kinds(spec)  # unsupported types fail at plan construction

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {c: pdf[c] for c in pass_names}
            cols["_has_cells"] = pdf["payload"].notna()
            cols.update(_decode_batch(pdf["payload"], spec))
            yield pd.DataFrame(cols)

    flat = df.drop("keyspace", "table").mapInPandas(run, out_schema)
    cells = F.struct(
        *[
            F.struct(
                F.col(f"_c{i}_value").alias("value"),
                F.col(f"_c{i}_del").alias("deletion_ts"),
                F.col(f"_c{i}_set").alias("set"),
            ).alias(name)
            for i, (name, _) in enumerate(spec.payload)
        ]
    )
    return flat.withColumn("cells", F.when(F.col("_has_cells"), cells)).drop(
        "_has_cells", *[f.name for f in flat_fields]
    )
