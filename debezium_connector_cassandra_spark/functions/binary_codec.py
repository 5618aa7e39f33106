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
the segment index trick (repeat + arange), one fancy-index per column.

The decoder (hot path) is one scalar Arrow UDF on the ``payload`` column
alone (``decode_payload_binary``): it builds the cells ``StructArray``
from Arrow buffers, so Spark prunes it from plans that never read
``cells`` and pushes filters on the other columns below it. The encoder
(producer side, where a log is written) is one numpy kernel per Arrow
batch inside ``mapInPandas``. Neither runs per-row Python.
``_encode_cells_py`` is the scalar reference packer the vectorized encoder
is tested byte-for-byte against.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

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
    """(int64 offsets, uint8 data) of a string / binary array, either
    offset width."""
    _, offs, data = arr.buffers()
    width = np.int64 if arr.type in (pa.large_string(), pa.large_binary()) else np.int32
    offsets = np.frombuffer(offs, dtype=width)[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
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
    2^53), so numeric kinds ship non-null with the NULL flag beside them.
    Timestamps flatten to epoch micros JVM-side: across Arrow -> pandas
    they would arrive as session-local wall-clock datetimes."""
    if kind == "ts":
        v = F.unix_micros(v)
    if kind in ("int", "bool", "ts"):
        return F.coalesce(v.cast("long"), F.lit(0).cast("long"))
    if kind == "double":
        return F.coalesce(v, F.lit(0.0))
    return v  # str: object with None


def _encode_batch(pdf: pd.DataFrame, spec) -> np.ndarray:
    """Pack one Arrow batch of flattened cells (``encode_payload_binary``'s
    ``_c{i}_*`` columns) into payloads — pure numpy. The headers fill one
    structured array; the string tails scatter with the segment index.
    Returns an object array of bytes, None where the cells struct is NULL."""
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
        elif kind == "double":
            slot = col("value", np.float64).view(np.int64)
        else:  # int / bool / ts (epoch micros)
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
    the end of the row. It stays a ``mapInPandas``: it runs only where a
    log is written."""
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

def _cells_type(spec) -> T.StructType:
    """The decoded cells type: NULL for a NULL payload, and inside a present
    struct every cell is a (non-NULL) struct."""
    _spec_kinds(spec)  # unsupported types fail at plan construction

    def cell(dtype):
        return T.StructType().add("value", dtype).add("deletion_ts", T.LongType()).add("set", T.BooleanType())

    return T.StructType([T.StructField(name, cell(dtype), False) for name, dtype in spec.payload])


def _bitmap(mask: np.ndarray) -> pa.Buffer:
    """An Arrow validity (or boolean data) bitmap."""
    return pa.py_buffer(np.packbits(mask, bitorder="little"))


def _decode_cells(payload: pa.Array, spec) -> pa.StructArray:
    """Decode one Arrow batch of payloads into ``spec``'s cells, straight
    from the Arrow buffers: the header slots become each numeric column's
    value buffer at its width (epoch micros for timestamps), the string
    tails gather into one data buffer per column, and the header bitmaps
    become the validity masks. No pandas, and no value becomes a Python
    object. A NULL payload (tombstone op) is a NULL cells struct, like
    ``from_json(NULL)`` in the JSON twin."""
    kinds = _spec_kinds(spec)
    dtype = _header_dtype(len(kinds))
    arrow_type = to_arrow_type(_cells_type(spec))
    n_rows = len(payload)
    offsets, data = _varbinary_buffers(payload)
    present = payload.is_valid().to_numpy(zero_copy_only=False)
    head = np.zeros(n_rows, dtype=dtype)  # a NULL payload: every cell unset
    starts = offsets[:-1]
    head[present] = data[(starts[present, None] + np.arange(dtype.itemsize)).ravel()].view(dtype)
    pos = starts + dtype.itemsize  # next string tail, per record
    cells = []
    for i, (kind, field) in enumerate(zip(kinds, arrow_type)):
        byte, bit = i // 8, 1 << (i % 8)
        is_set = (head["set"][:, byte] & bit) > 0
        has_val = is_set & ((head["null"][:, byte] & bit) == 0)
        slot = head["slots"][:, i]
        vtype = field.type.field("value").type
        if kind == "str":
            lens = np.where(has_val, slot, 0)
            offs = np.zeros(n_rows + 1, np.int64 if pa.types.is_large_string(vtype) else np.int32)
            np.cumsum(lens, dtype=offs.dtype, out=offs[1:])
            buffers = [pa.py_buffer(offs), pa.py_buffer(data[_segment_index(pos, lens)])]
            pos = pos + lens
        elif kind == "bool":
            buffers = [_bitmap(slot != 0)]
        else:  # int, double bit pattern, timestamp micros: the slot's bytes at the value's width
            buffers = [pa.py_buffer(slot.astype(f"<i{vtype.bit_width // 8}"))]
        has_del = (head["del"][:, byte] & bit) > 0
        children = [
            pa.Array.from_buffers(vtype, n_rows, [_bitmap(has_val), *buffers]),
            pa.Array.from_buffers(pa.int64(), n_rows, [_bitmap(has_del), pa.py_buffer(head["dels"][:, i].copy())]),
            pa.Array.from_buffers(pa.bool_(), n_rows, [None, _bitmap(is_set)]),
        ]
        cells.append(pa.StructArray.from_arrays(children, fields=list(field.type)))
    return pa.StructArray.from_arrays(cells, fields=list(arrow_type), mask=pa.array(~present))


def decode_payload_binary(df: DataFrame, spec=TRANSCRIPTS_SPEC) -> DataFrame:
    """Binary payload -> ``spec``'s typed cells: one scalar Arrow UDF over
    the ``payload`` column alone, so only payload bytes go to Python and the
    other columns stay in the JVM. Being an expression on one column, the
    decode is pruned from plans that never read ``cells`` (no Python runs,
    ``payload`` is not scanned), and filters on other columns push below
    it. Drops the payload and the multi-table routing columns, like
    ``decode.decode_payload_jvm``."""

    @F.arrow_udf(_cells_type(spec))
    def decode_cells(payload: pa.Array) -> pa.Array:
        return _decode_cells(payload, spec)

    return df.withColumn("cells", decode_cells("payload")).drop("payload", "keyspace", "table")
