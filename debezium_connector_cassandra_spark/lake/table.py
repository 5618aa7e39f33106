"""Mini copy-on-write lakehouse table format (the Iceberg stand-in).

No Iceberg/Delta jars ship in this environment, so the engine carries its own
minimal ACID table layer with the four properties the CDC pipeline needs:

1. **Atomic commits / snapshot isolation** — every commit writes an immutable
   manifest ``_manifests/v{N}.json`` listing the exact data files of every
   bucket, then atomically swings the ``_current`` pointer via
   ``os.replace`` (POSIX-atomic). Readers resolve the pointer once and see a
   consistent snapshot; a crash mid-commit leaves the old version intact.
2. **Bucketed layout + pruned copy-on-write** — rows are hash-bucketed on the
   partition key (``bucket = pmod(xxhash64(conv_id), n_buckets)``, a pure
   function, never stored). A MERGE that touches a subset of conv_ids
   rewrites only those buckets; untouched buckets are carried forward by
   reference in the new manifest. At 100 TB / thousands of buckets this is
   what keeps per-batch write amplification proportional to the touched key
   range, not the table size. Appends (``append_small``) land in their key
   buckets too, written from the driver with pyarrow, so a pruned read of
   a bucket returns exactly that bucket's rows whatever wrote them.
3. **Schema evolution** — ``add_column`` commits a manifest with the widened
   schema; old data files simply lack the column and the Parquet reader
   fills NULLs (read-schema projection), mirroring Iceberg's add-column and
   the reference's SchemaHolder update flow
   (Cassandra4SchemaChangeListener.java:114-260).
4. **Time travel** — any retained manifest version is readable
   (``read(version=...)``), which the resume/idempotence tests use.

Single-writer per table, like the reference's file-locked offset writer
(FileOffsetWriter.java:191-206); multi-writer coordination would sit above
this layer (a real catalog) and is out of scope.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

BUCKET_COL = "_bucket"

_PA_TYPES = {
    T.StringType(): pa.string(),
    T.LongType(): pa.int64(),
    T.IntegerType(): pa.int32(),
    T.BooleanType(): pa.bool_(),
    T.DoubleType(): pa.float64(),
    T.TimestampType(): pa.timestamp("us"),
}


def _pa_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema([(f.name, _PA_TYPES[f.dataType]) for f in schema.fields])


def _column_range(path: str, col: str) -> tuple[int, object, object]:
    """``(num_rows, min, max)`` of ``col`` in one Parquet file, read from its
    footer alone; min and max are None when a row group carries no
    statistics for ``col``."""
    md = pq.read_metadata(path)
    lo = hi = None
    if col in md.schema.names:
        j = md.schema.names.index(col)
        stats = [md.row_group(i).column(j).statistics for i in range(md.num_row_groups)]
        if stats and all(st is not None and st.has_min_max for st in stats):
            lo, hi = min(st.min for st in stats), max(st.max for st in stats)
    return md.num_rows, lo, hi


def bucket_expr(key_col: str, n_buckets: int) -> F.Column:
    """Pure bucket function — recomputable anywhere, never persisted."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


# XXH64 primes; Spark's xxhash64 is the reference XXH64 over a string's
# UTF-8 bytes with seed 42
_P1, _P2, _P3, _P4, _P5 = (
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )
)
_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _xxh64(data: np.ndarray) -> np.ndarray:
    """XXH64 (seed 42) of each row of ``data``, an ``(n, L)`` uint8 array
    of equal-length byte strings, as uint64."""
    n, length = data.shape

    def words(off: int, size: int) -> np.ndarray:  # little-endian lanes
        return np.ascontiguousarray(data[:, off : off + size]).view(f"<u{size}")[:, 0].astype(np.uint64)

    seed = np.full(n, _SEED, dtype=np.uint64)
    off = 0
    if length >= 32:
        v = [seed + _P1 + _P2, seed + _P2, seed.copy(), seed - _P1]
        while off + 32 <= length:
            v = [_round(v[i], words(off + 8 * i, 8)) for i in range(4)]
            off += 32
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vi in v:
            h = (h ^ _round(np.zeros(n, dtype=np.uint64), vi)) * _P1 + _P4
    else:
        h = seed + _P5
    h = h + np.uint64(length)
    while off + 8 <= length:
        h = _rotl(h ^ _round(np.zeros(n, dtype=np.uint64), words(off, 8)), 27) * _P1 + _P4
        off += 8
    if off + 4 <= length:
        h = _rotl(h ^ (words(off, 4) * _P1), 23) * _P2 + _P3
        off += 4
    while off < length:
        h = _rotl(h ^ (data[:, off].astype(np.uint64) * _P5), 11) * _P1
        off += 1
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def bucket_of(keys, n_buckets: int) -> np.ndarray:
    """``bucket_expr`` on the driver: the bucket id of every non-null string
    key (a pyarrow array, chunked or not, or a list), computed with numpy,
    no Spark job (one vectorized pass per distinct key length)."""
    if isinstance(keys, pa.ChunkedArray):
        keys = keys.combine_chunks()
    keys = keys.cast(pa.string()) if isinstance(keys, pa.Array) else pa.array(keys, pa.string())
    offsets = np.frombuffer(keys.buffers()[1], dtype=np.int32)[keys.offset : keys.offset + len(keys) + 1]
    data = np.frombuffer(keys.buffers()[2] or b"", dtype=np.uint8)
    starts, lengths = offsets[:-1], np.diff(offsets)
    hashes = np.empty(len(keys), dtype=np.uint64)
    for length in np.unique(lengths):
        rows = np.flatnonzero(lengths == length)
        hashes[rows] = _xxh64(data[starts[rows, None] + np.arange(length)])
    # Spark's pmod over the signed 64-bit hash
    return np.mod(hashes.view(np.int64), n_buckets).astype(np.int32)


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- paths -------------------------------------------------------------
    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version}.json")

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_col: str = "conv_id",
        n_buckets: int = 16,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(t._manifest_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "created_ms": int(time.time() * 1000),
            "schema": json.loads(schema.json()),
            "key_col": key_col,
            "n_buckets": n_buckets,
            "buckets": {},
            "props": {},
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_current"))

    @classmethod
    def open_or_create(
        cls, spark: SparkSession, path: str, schema: T.StructType, key_col: str, n_buckets: int
    ) -> "LakeTable":
        """Open the table at ``path``; create it empty when absent."""
        if cls.exists(path):
            return cls(spark, path)
        return cls.create(spark, path, schema, key_col, n_buckets)

    # -- manifest plumbing -------------------------------------------------
    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        mp = self._manifest_path(v)
        with open(mp + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(mp + ".tmp", mp)
        with open(self._pointer + ".tmp", "w") as f:
            f.write(str(v))
        os.replace(self._pointer + ".tmp", self._pointer)  # the atomic commit

    def current_version(self) -> int:
        with open(self._pointer) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.manifest(version)["schema"])

    def is_empty(self, version: int | None = None) -> bool:
        """Metadata-only emptiness check (no Spark job)."""
        return not any(self.manifest(version)["buckets"].values())

    # -- read --------------------------------------------------------------
    def read(self, buckets: list[int] | None = None, version: int | None = None) -> DataFrame:
        """Snapshot read; ``buckets`` prunes to the given bucket ids."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schema"])
        files: list[str] = []
        for b, fs in m["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            files.extend(os.path.join(self.path, f) for f in fs)
        if not files:
            return self.spark.createDataFrame([], schema)
        # explicit read schema => old files missing newly-added columns
        # project as NULL (schema evolution)
        return self.spark.read.schema(schema).parquet(*files)

    # -- write -------------------------------------------------------------
    def _write_files(self, df: DataFrame, key_col: str, n_buckets: int) -> dict[int, list[str]]:
        """Write df into per-bucket Parquet files under a fresh commit dir;
        returns bucket -> relative file paths."""
        commit_id = uuid.uuid4().hex[:12]
        rel_dir = os.path.join("data", f"commit-{commit_id}")
        out_dir = os.path.join(self.path, rel_dir)
        (
            df.withColumn(BUCKET_COL, bucket_expr(key_col, n_buckets))
            .repartition(F.col(BUCKET_COL))
            # one key run per bucket file, not one per upstream partition;
            # the partitioned write sorts by BUCKET_COL anyway, so this
            # ordering replaces that sort instead of adding one
            .sortWithinPartitions(BUCKET_COL, key_col)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )
        added: dict[int, list[str]] = {}
        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            b = int(entry.split("=", 1)[1])
            bdir = os.path.join(out_dir, entry)
            rel_files = [
                os.path.join(rel_dir, entry, f)
                for f in sorted(os.listdir(bdir))
                if f.endswith(".parquet")
            ]
            added[b] = rel_files
        return added

    def overwrite_buckets(self, df: DataFrame, bucket_ids: list[int]) -> int:
        """COW commit: replace the named buckets with df's rows (df must only
        contain rows hashing into ``bucket_ids``); all other buckets carry
        forward untouched. Returns the new version."""
        m = self.manifest()
        added = self._write_files(df, m["key_col"], m["n_buckets"])
        new_buckets = {b: fs for b, fs in m["buckets"].items() if int(b) not in set(bucket_ids)}
        for b, fs in added.items():
            new_buckets[str(b)] = fs
        return self._commit(m, new_buckets)

    def overwrite_all(self, df: DataFrame) -> int:
        m = self.manifest()
        added = self._write_files(df, m["key_col"], m["n_buckets"])
        return self._commit(m, {str(b): fs for b, fs in added.items()})

    # an append that finds this many files in a bucket compacts them, with
    # its own rows, into one file (bounds manifest size AND read fan-in over
    # unbounded batch counts)
    COMPACT_THRESHOLD = 64

    # optional pandas-level rewrite applied during compaction (e.g. the
    # offsets table keeps only per-partition watermarks — superseded rows
    # are dead weight, exactly like the reference's offset file which holds
    # only CURRENT values, FileOffsetWriter.java:96-119)
    compaction_transform = None

    def append_small(self, rows: list[dict] | pa.Table) -> int:
        """The table's one append: rows (dicts or a pyarrow Table) written
        from the driver with pyarrow, no Spark job — the direct analog of
        the reference's offset flush, a synchronous write on the driver
        (FileOffsetWriter.flush), made atomic by the manifest pointer swap.
        The rows are split by key bucket (``bucket_of``) into one file per
        touched bucket, all in one commit, so bucket-pruned reads see them
        in their own bucket only. A bucket already holding
        ``COMPACT_THRESHOLD`` files is compacted in the same commit: its
        files and the new rows become one file (``compaction_transform``
        applied). Used by the tombstone store and the bookkeeping tables."""
        m = self.manifest()
        schema = _pa_schema(T.StructType.fromJson(m["schema"]))
        if isinstance(rows, pa.Table):
            table = rows.select(schema.names).cast(schema)
        else:
            table = pa.table({n: [r.get(n) for r in rows] for n in schema.names}, schema=schema)
        if not table.num_rows:
            return m["version"]
        new_buckets = {b: list(fs) for b, fs in m["buckets"].items()}
        ids = bucket_of(table[m["key_col"]], m["n_buckets"])
        parts = {}
        for b in np.unique(ids).tolist():
            part = table.filter(pa.array(ids == b))
            if len(new_buckets.get(str(b), [])) >= self.COMPACT_THRESHOLD:
                part = self._compacted(new_buckets.pop(str(b)), part, schema)
            parts[b] = part
        self._add_files(new_buckets, parts)
        return self._commit(m, new_buckets)

    def _compacted(self, files: list[str], rows: pa.Table, schema: pa.Schema) -> pa.Table:
        """One bucket's ``files`` and new ``rows`` as one table of
        ``schema`` (files written by Spark or before an added column read
        under it), with ``compaction_transform`` (pandas -> pandas) applied
        when set."""
        merged = pa.concat_tables([pq.read_table(os.path.join(self.path, f), schema=schema) for f in files] + [rows])
        if self.compaction_transform is None:
            return merged
        df = self.compaction_transform(merged.to_pandas())
        return pa.Table.from_pandas(df, schema=schema, preserve_index=False)

    def _add_files(self, buckets: dict[str, list[str]], tables: dict[int | str, pa.Table]) -> None:
        """Write each table as one Parquet file of its bucket, under one
        fresh commit directory, and add the file to ``buckets``."""
        rel_dir = os.path.join("data", f"commit-{uuid.uuid4().hex[:12]}")
        os.makedirs(os.path.join(self.path, rel_dir))
        for b, t in tables.items():
            rel_file = os.path.join(rel_dir, f"bucket{b}.parquet")
            pq.write_table(t, os.path.join(self.path, rel_file))
            buckets.setdefault(str(b), []).append(rel_file)

    def purge_at_or_below(self, col: str, bound) -> tuple[int, int, int]:
        """Delete every row whose ``col`` is not above ``bound``, planned
        from Parquet footers on the driver with no Spark job: a file whose
        ``col`` max is at or below the bound is dropped unread, and one
        whose min is above it is kept by reference. The rest (files that
        straddle the bound or carry no statistics) are read with pyarrow,
        and each bucket's surviving rows are written back into that same
        bucket as one file. Commits only when a row was purged. Returns
        ``(n_purged, n_kept, version)``."""
        m = self.manifest()
        schema = _pa_schema(T.StructType.fromJson(m["schema"]))
        n_purged = n_kept = 0
        new_buckets: dict[str, list[str]] = {}
        rewrite: dict[str, list[pa.Table]] = {}
        for b, files in m["buckets"].items():
            for f in files:
                path = os.path.join(self.path, f)
                n, lo, hi = _column_range(path, col)
                if hi is not None and hi <= bound:
                    n_purged += n
                    continue
                if lo is not None and lo > bound:
                    n_kept += n
                    new_buckets.setdefault(b, []).append(f)
                    continue
                table = pq.read_table(path, schema=schema)
                kept = table.filter(pc.greater(table[col], bound))
                n_kept += kept.num_rows
                n_purged += table.num_rows - kept.num_rows
                if kept.num_rows == table.num_rows:
                    new_buckets.setdefault(b, []).append(f)
                elif kept.num_rows:
                    rewrite.setdefault(b, []).append(kept)
        if n_purged == 0:
            return 0, n_kept, m["version"]
        if rewrite:
            self._add_files(new_buckets, {b: pa.concat_tables(ts) for b, ts in rewrite.items()})
        return n_purged, n_kept, self._commit(m, new_buckets)

    def _commit(self, base_manifest: dict, new_buckets: dict, schema: T.StructType | None = None) -> int:
        new_m = dict(base_manifest)
        new_m["version"] = base_manifest["version"] + 1
        new_m["parent"] = base_manifest["version"]
        new_m["created_ms"] = int(time.time() * 1000)
        new_m["buckets"] = new_buckets
        if schema is not None:
            new_m["schema"] = json.loads(schema.json())
        self._write_manifest(new_m)
        return new_m["version"]

    # -- schema evolution --------------------------------------------------
    def add_column(self, name: str, dtype: T.DataType) -> int:
        """Iceberg-style ADD COLUMN: metadata-only commit; existing files are
        untouched and read back NULL for the new column."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if name in schema.fieldNames():
            return m["version"]
        schema = T.StructType(schema.fields + [T.StructField(name, dtype, True)])
        return self._commit(m, m["buckets"], schema=schema)

    # safe metadata-only type widenings (verified against this Spark
    # version's parquet reader: old int32/float files read back under the
    # widened schema without rewrite — Iceberg's type-promotion rules)
    _WIDENINGS = {  # keys/values are DataType.simpleString() names
        "tinyint": {"smallint", "int", "bigint", "double"},
        "smallint": {"int", "bigint", "double"},
        "int": {"bigint", "double"},
        "float": {"double"},
    }

    def alter_column_type(self, name: str, dtype: T.DataType) -> int:
        """Iceberg-style ALTER COLUMN TYPE: metadata-only commit for safe
        widenings (int->long, int->double, float->double, ...); existing
        files are read under the widened schema by parquet type promotion.
        Raises for narrowing / unsupported pairs."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if name not in schema.fieldNames():
            raise ValueError(f"no such column: {name!r}")
        old = schema[name].dataType
        if old == dtype:
            return m["version"]
        if dtype.simpleString() not in self._WIDENINGS.get(old.simpleString(), set()):
            raise ValueError(
                f"unsupported type change {old.simpleString()} -> "
                f"{dtype.simpleString()} for column {name!r} (only safe "
                "widenings are metadata-only; others would need a rewrite)"
            )
        new_schema = T.StructType(
            [
                T.StructField(name, dtype, f.nullable) if f.name == name else f
                for f in schema.fields
            ]
        )
        return self._commit(m, m["buckets"], schema=new_schema)
