"""Layer probes for the traced run.

Each probe wraps a public function of the engine (or of pyspark) at run
time and accumulates counters and seconds into one ``Probes`` object.
Nothing in the engine changes: ``install`` swaps module attributes and
``uninstall`` puts the originals back.  The timed runs never install
them.
"""

from __future__ import annotations

import functools
import os
import threading
import time
import zipfile
from collections import defaultdict

# eager DataFrame methods that run a Spark job from the driver
_ACTIONS = (
    "collect", "count", "take", "first", "head", "tail", "toPandas",
    "toArrow", "toLocalIterator", "foreach", "foreachPartition", "show",
    "isEmpty", "checkpoint", "localCheckpoint",
)


class Probes:
    def __init__(self):
        self.c: dict[str, float] = defaultdict(float)
        self._undo: list = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        # counters attributed to spec.fn only while a query is being built
        self.in_construct = False

    def add(self, key: str, v: float = 1.0) -> None:
        with self._lock:
            self.c[key] += v

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, owner.__dict__.get(name, getattr(owner, name))))
        setattr(owner, name, new)

    def _timed(self, owner, name: str, key: str, after=None) -> None:
        orig = getattr(owner, name)
        probes = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            probes.add(key, time.perf_counter() - t0)
            if after is not None:
                after(out, *a, **kw)
            return out

        self._patch(owner, name, wrapper)

    def install(self) -> None:
        self._install_dataframe()
        self._install_engine()

    def uninstall(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)

    # -- pyspark: .rdd conversions, localCheckpoint, eager actions -------
    def _install_dataframe(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        probes = self
        rdd_prop = DataFrame.__dict__["rdd"]

        def rdd(df):
            if probes.in_construct:
                probes.add("queries.rdd_conversions")
            return rdd_prop.func(df)

        new_prop = functools.cached_property(rdd)
        new_prop.__set_name__(DataFrame, "rdd")
        self._patch(DataFrame, "rdd", new_prop)

        for name in _ACTIONS:
            orig = getattr(DataFrame, name)

            def wrapper(df, *a, _orig=orig, _name=name, **kw):
                depth = getattr(probes._tls, "depth", 0)
                if depth == 0 and probes.in_construct:
                    if _name == "localCheckpoint":
                        probes.add("queries.local_checkpoints")
                    else:
                        probes.add("queries.driver_actions")
                probes._tls.depth = depth + 1
                try:
                    return _orig(df, *a, **kw)
                finally:
                    probes._tls.depth = depth

            functools.update_wrapper(wrapper, orig)
            self._patch(DataFrame, name, wrapper)

    # -- engine modules ---------------------------------------------------
    def _install_engine(self) -> None:
        from nemscraper_spark.plans import compact, history
        from nemscraper_spark.queries import trunk_cache
        from nemscraper_spark.sources import fetch, nemcsv

        probes = self
        orig_trunk = trunk_cache.trunk

        @functools.wraps(orig_trunk)
        def trunk(family, key, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            t0 = time.perf_counter()
            out = orig_trunk(family, key, counted_build)
            if built:
                probes.add("trunk_cache.builds")
                probes.add("trunk_cache.build_s", time.perf_counter() - t0)
            else:
                probes.add("trunk_cache.hits")
            return out

        self._patch(trunk_cache, "trunk", trunk)

        orig_ingest = nemcsv.ingest

        @functools.wraps(orig_ingest)
        def ingest(spark, input_path, out_dir, *a, **kw):
            # ingest returns each table's total rows after the append, so
            # the rows and parquet bytes of this call are deltas
            rows0, bytes0 = _parquet_tree(out_dir)
            t0 = time.perf_counter()
            counts = orig_ingest(spark, input_path, out_dir, *a, **kw)
            probes.add("nemcsv.ingest_s", time.perf_counter() - t0)
            rows1, bytes1 = _parquet_tree(out_dir)
            paths = input_path if isinstance(input_path, list) else [input_path]
            probes.add("nemcsv.rows", rows1 - rows0)
            probes.add("nemcsv.parquet_bytes", bytes1 - bytes0)
            probes.add("nemcsv.raw_bytes", sum(_raw_bytes(p) for p in paths))
            return counts

        self._patch(nemcsv, "ingest", ingest)

        def after_poll(rows, *a, **kw):
            probes.add("fetch.downloads", len(rows))

        self._timed(fetch, "poll_feeds_once", "fetch.poll_s", after_poll)

        def after_compact(res, spark, table_root, *a, **kw):
            probes.add("compact.partitions", len(res))
            probes.add("compact.bytes_rewritten", sum(_dir_bytes(p) for p in res))

        self._timed(compact, "compact_table", "compact.s", after_compact)
        self._timed(history.TableHistory, "add", "history.add_s")
        self._timed(history.TableHistory, "vacuum", "history.vacuum_s")


def _raw_bytes(path: str) -> int:
    """Uncompressed bytes of one input (ZIP members or a plain file)."""
    if path.lower().endswith(".zip"):
        with zipfile.ZipFile(path) as z:
            return sum(zi.file_size for zi in z.infolist())
    return os.path.getsize(path)


def _parquet_tree(root: str) -> tuple[int, int]:
    """(footer rows, bytes) of every parquet file under ``root``."""
    import pyarrow.parquet as pq

    rows = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not d.rsplit("/", 1)[-1].startswith("."):
                p = os.path.join(d, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
