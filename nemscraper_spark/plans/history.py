"""Append-only history/ledger tables with dedup-by-key semantics
(SURVEY.md §2.8 M1/M3; reference src/history/table_history.rs).

The reference keeps an in-memory HashSet hydrated from per-row parquet
files and vacuums them into consolidated files every 30s
(table_history.rs:58-140). Here the ledger IS a small parquet table
partitioned by ``date=YYYYMMDD``, and every ledger operation is
driver-side metadata I/O: pyarrow on the filesystem from
sources/fsutil (file:// and object stores alike), never a Spark job.

  * membership: ``seen(names)`` scans the key column only, with an
    ``isin`` filter pushed into the scan, so driver memory is
    O(|names|), not O(ledger) — the ledger is never hydrated
  * appends: one parquet file per date partition per ``add`` call,
    staged under a hidden "."-name (skipped by Spark and pyarrow
    listings) and then renamed in
  * vacuum (M3): each partition holding more than one file is merged
    into one. The merged file is renamed in BEFORE its sources are
    deleted, so a crash in between leaves rows twice, never missing;
    the merge drops exact-duplicate rows, so the next vacuum converges.

``read()`` (the Spark DataFrame view) and ``filter_unseen`` (a broadcast
left-anti join) remain for callers that hold candidates as a DataFrame.

Schemas per FIXTURES.md §C (downloaded / processed / compacted);
UInt64/UInt32 in the reference become long/int (Spark has no unsigned).
The Arrow schema the files are written with is derived from them;
timestamps are stored as timestamp[us, UTC].
"""

from __future__ import annotations

import posixpath
import uuid
from collections.abc import Iterable
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nemscraper_spark.sources import fsutil

DOWNLOADED_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),  # dedup key
        T.StructField("url", T.StringType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("download_start", T.TimestampType(), True),
        T.StructField("download_end", T.TimestampType(), True),
        T.StructField("thread", T.IntegerType(), True),
    ]
)

PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("total_rows", T.LongType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("processing_start", T.TimestampType(), True),
        T.StructField("processing_end", T.TimestampType(), True),
        T.StructField("thread", T.IntegerType(), True),
    ]
)

COMPACTED_SCHEMA = T.StructType(
    [
        T.StructField("input_file", T.StringType(), False),
        T.StructField("partition", T.DateType(), True),
        T.StructField("compaction_start", T.TimestampType(), True),
        T.StructField("compaction_end", T.TimestampType(), True),
        T.StructField("thread", T.IntegerType(), True),
    ]
)

_KEYS = {"downloaded": "filename", "processed": "filename", "compacted": "input_file"}
_SCHEMAS = {
    "downloaded": DOWNLOADED_SCHEMA,
    "processed": PROCESSED_SCHEMA,
    "compacted": COMPACTED_SCHEMA,
}


_ARROW_TYPES = {
    T.StringType: pa.string(),
    T.LongType: pa.int64(),
    T.IntegerType: pa.int32(),
    T.DateType: pa.date32(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
}


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _ARROW_TYPES[type(f.dataType)], f.nullable) for f in schema.fields]
    )


def _data_files(partition_dir: str) -> list[str]:
    """Parquet files of one partition, without hidden ("."/"_") names —
    the files Spark and pyarrow readers see."""
    return [
        f
        for f in fsutil.list_files(partition_dir, suffix=".parquet")
        if not posixpath.basename(f).startswith((".", "_"))
    ]


class TableHistory:
    """One ledger (downloaded/processed/compacted) rooted at
    ``root/<name>`` with `date=YYYYMMDD` partitions
    (table_history.rs:111-119)."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        if name not in _SCHEMAS:
            raise ValueError(f"unknown history table {name!r}")
        self.spark = spark
        self.name = name
        self.path = posixpath.join(root, name)
        self.key = _KEYS[name]
        self.schema = _SCHEMAS[name]
        self.arrow_schema = _arrow_schema(self.schema)
        self._ts_cols = [
            f.name for f in self.schema.fields if isinstance(f.dataType, T.TimestampType)
        ]

    def _partitions(self) -> list[str]:
        return fsutil.list_dirs(self.path, name_prefix="date=")

    def read(self) -> DataFrame:
        if not self._partitions():
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def _publish(self, table: pa.Table, partition_dir: str) -> None:
        """Write ``table`` as ONE file under a hidden name in
        ``partition_dir``, then rename it in: readers never see a torn
        file."""
        fs, local, _ = fsutil.get_fs(partition_dir)
        fs.create_dir(local, recursive=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        staged = posixpath.join(local, "." + name)
        pq.write_table(table, staged, filesystem=fs)
        fs.move(staged, posixpath.join(local, name))

    def add(self, rows: list[dict]) -> None:
        """Append rows, one file per date partition. The partition is
        the first timestamp column's UTC date, or today's when that
        column is null (the reference partitions by write date,
        table_history.rs:113). Naive datetimes are local time, as
        Spark's createDataFrame reads them."""
        now = datetime.now(timezone.utc)
        by_date: dict[str, list[dict]] = {}
        for r in rows:
            rec = {name: r.get(name) for name in self.arrow_schema.names}
            if rec[self.key] is None:
                raise ValueError(f"{self.name} ledger row without {self.key!r}: {r}")
            for c in self._ts_cols:
                if rec[c] is not None:
                    rec[c] = rec[c].astimezone(timezone.utc)
            day = (rec[self._ts_cols[0]] or now).strftime("%Y%m%d")
            by_date.setdefault(day, []).append(rec)
        for day, recs in by_date.items():
            self._publish(
                pa.Table.from_pylist(recs, schema=self.arrow_schema),
                posixpath.join(self.path, f"date={day}"),
            )

    def seen(self, names: Iterable[str]) -> set[str]:
        """M1 membership, batched: ``names`` ∩ the ledger's keys (the
        reference's `seen` set, main.rs:177-179). One scan of the key
        column with the names pushed down as an ``isin`` filter."""
        names = list(dict.fromkeys(names))
        if not names or not fsutil.exists(self.path):
            return set()
        fs, local, _ = fsutil.get_fs(self.path)
        keys = ds.dataset(
            local,
            filesystem=fs,
            format="parquet",
            schema=pa.schema([pa.field(self.key, pa.string())]),
        ).to_table(columns=[self.key], filter=ds.field(self.key).isin(names))
        return set(keys.column(self.key).to_pylist())

    def filter_unseen(self, candidates: DataFrame, key_col: str | None = None) -> DataFrame:
        """M1: candidates whose key is NOT in the ledger — a broadcast
        left-anti join, for candidates that are already a DataFrame
        (main.rs:177-179, compactor.rs:618-630)."""
        key_col = key_col or self.key
        seen = self.read().select(F.col(self.key).alias(key_col)).distinct()
        return candidates.join(F.broadcast(seen), key_col, "left_anti")

    def _read_file(self, path: str) -> pa.Table:
        # files written by Spark hold INT96 timestamps (read as naive
        # UTC microseconds); the cast gives every file this ledger's schema
        with fsutil.open_input(path) as fh:
            t = pq.read_table(fh, coerce_int96_timestamp_unit="us")
        return t.select(self.arrow_schema.names).cast(self.arrow_schema)

    def vacuum(self) -> None:
        """M3: merge each multi-file partition into one file
        (table_history.rs:95-103, 143-185): write the merged rows
        hidden, rename them in, then delete the sources. Exact-duplicate
        rows (a crash between rename and delete) are dropped."""
        for part in self._partitions():
            files = _data_files(part)
            if len(files) < 2:
                continue
            merged = pa.concat_tables([self._read_file(f) for f in files])
            merged = merged.group_by(merged.column_names, use_threads=False).aggregate([])
            self._publish(merged.select(self.arrow_schema.names).cast(self.arrow_schema), part)
            for f in files:
                fsutil.delete_file(f)
