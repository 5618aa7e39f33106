"""Property test: the binary codec's pure core round-trips ARBITRARY cells
(random strings incl. unicode/empty, random set/null/deletion combinations,
random values of every supported cell kind) — no Spark in the loop, so
hypothesis can hammer it. Two specs: the transcript table and a numeric one
covering every kind the codec supports. The vectorized encoder kernel must
also emit the scalar reference packer's bytes exactly, and the decode
kernel (payload ``pyarrow`` array in, cells ``StructArray`` out) must
produce valid Arrow arrays of the decoder's Spark type, nullability
included."""

import struct

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from debezium_connector_cassandra_spark.functions.binary_codec import (
    _cells_type,
    _decode_cells,
    _encode_batch,
    _encode_cells_py,
    _spec_kinds,
)
from debezium_connector_cassandra_spark.model import TRANSCRIPTS_SPEC, TableSpec

NUMERIC_SPEC = TableSpec(
    keyspace="ks",
    table="numeric",
    payload=(
        ("n32", T.IntegerType()),
        ("n64", T.LongType()),
        ("flag", T.BooleanType()),
        ("x", T.DoubleType()),
        ("at", T.TimestampType()),
        ("label", T.StringType()),
    ),
)

_text = st.one_of(
    st.none(),
    st.text(max_size=40),
    st.text(alphabet="☃é漢🎉\x00ab ", max_size=20),
)
_del_ts = st.one_of(st.none(), st.integers(min_value=-(2**62), max_value=2**62))
_micros = st.integers(min_value=0, max_value=4_000_000_000_000_000)  # ~ year 2096
_VALUES = {  # by Spark type
    "string": _text,
    "int": st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    "bigint": st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    "boolean": st.one_of(st.none(), st.booleans()),
    "double": st.one_of(st.none(), st.floats(allow_nan=True, allow_infinity=True)),
    "timestamp": st.one_of(st.none(), _micros.map(lambda u: pd.Timestamp(u * 1000))),
}


def _cells(spec):
    return st.fixed_dictionaries(
        {
            name: st.fixed_dictionaries(
                {"value": _VALUES[dtype.simpleString()], "deletion_ts": _del_ts, "set": st.booleans()}
            )
            for name, dtype in spec.payload
        }
    )


def _rows(spec):
    return st.lists(st.one_of(st.none(), _cells(spec)), min_size=1, max_size=8)


def _decoded_type(spec) -> T.StructType:
    """The decoded cells type, written out: NULL-able cells struct, non-NULL
    cell structs, every leaf NULL-able."""
    return T.StructType(
        [
            T.StructField(
                name,
                T.StructType(
                    [
                        T.StructField("value", dtype, True),
                        T.StructField("deletion_ts", T.LongType(), True),
                        T.StructField("set", T.BooleanType(), True),
                    ]
                ),
                False,
            )
            for name, dtype in spec.payload
        ]
    )


def _decode(payloads, spec) -> pa.StructArray:
    """Run the decode kernel as the Arrow UDF does, checking the result."""
    dec = _decode_cells(payloads, spec)
    assert _cells_type(spec) == _decoded_type(spec)
    assert dec.type == to_arrow_type(_decoded_type(spec))
    assert len(dec) == len(payloads)
    dec.validate(full=True)
    return dec


def _flat_frame(rows, spec) -> pd.DataFrame:
    """The flattened columns encode_payload_binary ships to the kernel."""
    kinds = _spec_kinds(spec)
    flat = {"_has_cells": [r is not None for r in rows]}
    for i, ((name, _), kind) in enumerate(zip(spec.payload, kinds)):
        cs = [None if r is None else r[name] for r in rows]
        values = [None if c is None else c["value"] for c in cs]
        flat[f"_c{i}_set"] = [c is not None and c["set"] for c in cs]
        flat[f"_c{i}_null"] = [v is None for v in values]
        flat[f"_c{i}_hasdel"] = [c is not None and c["deletion_ts"] is not None for c in cs]
        flat[f"_c{i}_del"] = [0 if c is None or c["deletion_ts"] is None else c["deletion_ts"] for c in cs]
        if kind == "ts":  # epoch micros, as unix_micros flattens them
            flat[f"_c{i}_value"] = pd.Series([0 if v is None else v.value // 1000 for v in values], dtype="int64")
        elif kind == "str":
            flat[f"_c{i}_value"] = pd.Series(values, dtype=object)
        elif kind == "double":
            flat[f"_c{i}_value"] = [0.0 if v is None else v for v in values]
        else:
            flat[f"_c{i}_value"] = pd.Series([0 if v is None else int(v) for v in values], dtype="int64")
    return pd.DataFrame(flat)


def _same(got, want, kind) -> bool:
    if want is None:
        return got is None
    if kind == "ts":  # a UTC instant
        return pd.Timestamp(got).tz_convert(None) == want
    if kind == "double":  # bit-exact, NaN payloads and -0.0 included
        return struct.pack("<d", got) == struct.pack("<d", want)
    if kind == "str":
        return got == str(want)
    return got == want and type(got) is type(want)


def _check_roundtrip(rows, spec):
    payloads = [_encode_cells_py(r, spec) for r in rows]
    assert list(_encode_batch(_flat_frame(rows, spec), spec)) == payloads
    dec = _decode(pa.array(payloads, type=pa.binary()), spec).to_pylist()
    for i, r in enumerate(rows):
        if r is None:  # no payload: a NULL cells struct
            assert dec[i] is None
            continue
        for name, kind in zip(spec.payload_dict, _spec_kinds(spec)):
            # decode-visible form: unset cells lose their value; dels
            # survive regardless
            c, got = r[name], dec[i][name]
            want_v = c["value"] if c["set"] else None
            assert got["set"] is c["set"], (i, name)
            assert got["deletion_ts"] == c["deletion_ts"], (i, name)
            assert _same(got["value"], want_v, kind), (i, name, got["value"], want_v)


@settings(max_examples=300, deadline=None)
@given(_rows(TRANSCRIPTS_SPEC))
def test_roundtrip_arbitrary_cells(rows):
    _check_roundtrip(rows, TRANSCRIPTS_SPEC)


@settings(max_examples=300, deadline=None)
@given(_rows(NUMERIC_SPEC))
def test_roundtrip_arbitrary_numeric_cells(rows):
    _check_roundtrip(rows, NUMERIC_SPEC)


@pytest.mark.parametrize("spec", [TRANSCRIPTS_SPEC, NUMERIC_SPEC], ids=["transcripts", "numeric"])
@pytest.mark.parametrize("payload_type", [pa.binary(), pa.large_binary()])
def test_tombstone_only_and_empty_batches(spec, payload_type):
    """A batch of tombstone ops only (every payload NULL) decodes to all-NULL
    cells structs; a zero-row batch to a zero-row array of the same type."""
    dec = _decode(pa.array([None] * 5, type=payload_type), spec)
    assert dec.null_count == 5
    assert len(_decode(pa.array([], type=payload_type), spec)) == 0
