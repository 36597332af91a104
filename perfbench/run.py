#!/usr/bin/env python3
"""Benchmark of the engine from outside: one named workload, one seed,
one closed-loop client, local[nproc].

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 35 --trace 0

Workloads (see perfbench/README.md):
  corpus_dedup  passes over a fixed set of corpus/dedup queries
                (``QuerySpec.fn`` + noop-sink write), each from an empty
                trunk registry, in an order permuted by the seed
  etl_service   seeded NEM ZIPs published through a file:// feed:
                cold-start backfill ticks, then small incremental ticks,
                each a ``scripts/run_pipeline.run_once`` call

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and the layer probes and reports per-layer metrics.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the run's context (versions, heap, cores, noise, raw samples).
Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq
import pyspark

import eventlog
import nemgen
import probes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
# the engine's sf0.01 query tables (TESTDATA.md: seed 42), copied byte
# for byte; the same for every run
TABLE_DIR = HERE / "tables"

# Every eighth of the 63 corpus queries (training_data, corpus_ops,
# corpus_graph, ann_twins) in registration order, starting at the
# eighth: a cold pass over all 63 takes 70-90 s at 4 cores, and a run
# needs several passes to report medians.
CORPUS_QUERIES = (
    "minhash_lsh_pairs", "text_quality_score", "multimodal_frame_sample",
    "dedup_cluster_components", "doc_repetition_score",
    "dedup_keep_canonical", "sketch_profile_exact",
)

# etl_service sizes: each cold-start tick backfills four dates into a
# fresh site; every incremental tick publishes a few small ZIPs for a
# fifth date, so that day's partition grows tick by tick
COLD_DATES = ("20250601", "20250602", "20250603", "20250604")
TICK_DATE = "20250605"
BACKFILLS, COLD_ZIPS, COLD_ROWS = 3, 16, 1500
TICK_ZIPS, TICK_ROWS = 3, 1000

# A run does a fixed number of rounds, sized from --seconds by nominal
# 4-core round times, never by how fast this run goes: a faster run that
# did more rounds would also warm the JIT further and report lower
# medians for that reason alone.
MIN_ROUNDS = 3
PASS_S, BACKFILL_S, TICK_S = 11.0, 6.0, 3.5


def rounds(seconds: float, round_s: float) -> int:
    return max(MIN_ROUNDS, round(seconds / round_s))

UNITS = {"setup_s": "s", "batch_s": "s", "op_s": "s"}
LAYER_UNITS = {
    "queries.construct_s": "s", "queries.execute_s": "s",
    "queries.rdd_conversions": "count", "queries.local_checkpoints": "count",
    "queries.driver_actions": "count",
    "trunk_cache.builds": "count", "trunk_cache.hits": "count",
    "trunk_cache.build_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.jvm_cpu_s": "s", "spark.gc_s": "s",
    "spark.non_jvm_s": "s", "spark.busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "nemcsv.ingest_s": "s", "nemcsv.rows": "rows", "nemcsv.raw_bytes": "bytes",
    "fetch.poll_s": "s", "fetch.downloads": "count",
    "history.add_s": "s", "history.vacuum_s": "s", "history.ledger_rows": "rows",
    "compact.s": "s", "compact.partitions": "count",
    "compact.bytes_rewritten": "bytes", "compact.write_amp": "ratio",
    "trace.batch_s": "s", "run.peak_rss_mb": "MB",
}


# -- host context --------------------------------------------------------

def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def steal_s() -> float:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def driver_mem() -> str:
    """A quarter of physical memory, in whole GiB (at least 1)."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                return f"{max(1, kib // (4 * 1024 * 1024))}g"
    return "2g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.stop = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.page
            except (OSError, ValueError, IndexError):
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self.stop.wait(0.5):
            self.sample()


# -- workloads -----------------------------------------------------------

class Run:
    def __init__(self, args):
        self.args = args
        self.trace = args.trace == 1
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.failures: list[str] = []
        self.info: dict = {}
        self.layers: dict[str, float] = {}

    def fail(self, op: str, why: str) -> None:
        """Record a failed operation (a query or a tick) and why."""
        self.failed_ops.add(op)
        self.failures.append(f"{op}: {why}")
        print(f"FAIL {op}: {why}", file=sys.stderr, flush=True)

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)


def run_corpus(r: Run) -> dict:
    """Passes over CORPUS_QUERIES, as many as fit --seconds.  Every pass
    starts from an empty trunk registry and runs the queries in a seeded
    order.  A query's latency is its median over the passes; batch_s
    (the registry-cold pass time) is the sum of those medians, so one
    noisy pass does not move the result.  op_s is their geometric mean,
    the latency of a typical query: every query weighs the same in it,
    where the sum is dominated by the slowest ones.  (Which query of a
    trunk family pays for the trunk build depends on the order; the sum
    does not.)"""
    from nemscraper_spark.queries import REGISTRY
    from nemscraper_spark.queries.trunk_cache import clear_trunk_caches
    from oracle import Oracles, digest

    spark, sf = r.spark, str(TABLE_DIR)
    missing = [n for n in CORPUS_QUERIES if n not in REGISTRY]
    for n in missing:
        r.attempted += 1
        r.fail(n, "not registered")
    names = [n for n in CORPUS_QUERIES if n in REGISTRY]
    frames, errors = {}, {}
    lat: dict[str, list[float]] = {n: [] for n in names}
    construct = execute = 0.0
    passes: list[float] = []
    for _ in range(rounds(r.args.seconds, PASS_S)):
        clear_trunk_caches()
        order = names[:]
        r.rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            r.group(name)
            t0 = time.perf_counter()
            try:
                if r.probes:
                    r.probes.in_construct = True
                try:
                    df = REGISTRY[name].fn(spark, sf)
                finally:
                    if r.probes:
                        r.probes.in_construct = False
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 — a failed query is a result
                errors[name] = f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
                continue
            t2 = time.perf_counter()
            lat[name].append(t2 - t0)
            construct += t1 - t0
            execute += t2 - t1
            frames[name] = df
        passes.append(time.perf_counter() - t_pass)
    r.measured_s = sum(passes)
    query_s = {n: statistics.median(v) for n, v in lat.items() if v}
    r.info.update(passes=len(passes), pass_s=passes, query_samples_s=lat)
    r.layers.update({"queries.construct_s": construct, "queries.execute_s": execute})

    # correctness gate, outside the timed region
    t_check = time.perf_counter()
    oracles = Oracles(str(TABLE_DIR), str(WORK / f"oracle-{table_id()}.json"))
    r.group("check")
    for name in names:
        r.attempted += 1
        if name in errors:
            r.fail(name, errors[name])
            continue
        df = frames[name]
        try:
            got = digest(df.collect(), df.columns)
            spec = REGISTRY[name]
            ok = got["rows"] > 0 if spec.oracle is None else got == oracles.expected(spec.oracle)
        except Exception as ex:  # noqa: BLE001
            r.fail(name, f"check raised {type(ex).__name__}: {str(ex)[:200]}")
            continue
        if not ok:
            r.fail(name, "result differs from its oracle")
    oracles.close()
    r.info["check_s"] = time.perf_counter() - t_check
    return {
        "batch_s": sum(query_s.values()),
        "op_s": statistics.geometric_mean(query_s.values()) if query_s else 0.0,
    }


class EtlSite:
    """One service instance: a feed directory, a staging directory for
    ZIPs not yet published, and a pipeline work directory."""

    def __init__(self, base: Path):
        self.stage, self.feed, self.work = base / "stage", base / "feed", base / "work"
        self.stage.mkdir(parents=True)
        self.feed.mkdir()
        self.expected = {nemgen.UNIT_KEY: 0, nemgen.FREQ_KEY: 0}
        self.published: list[str] = []
        self.seq = 0

    def make(self, rng, dates, n_zips: int, n_rows: int) -> list[Path]:
        """Generate ZIPs into the staging directory (untimed)."""
        out = []
        for i in range(n_zips):
            date = dates[i % len(dates)]
            p = self.stage / nemgen.zip_name(date, self.seq)
            self.seq += 1
            for k, v in nemgen.make_zip(str(p), date, n_rows, rng).items():
                self.expected[k] += v
            out.append(p)
        return out

    def tick(self, r: Run, op: str, zips: list[Path]) -> float | None:
        """Publish ``zips`` and run one pipeline tick; the wall time of
        both, or None if the tick raised."""
        from run_pipeline import run_once

        r.attempted += 1
        r.group(op)
        t0 = time.perf_counter()
        try:
            for p in zips:
                os.replace(p, self.feed / p.name)
            url = nemgen.write_listing(str(self.feed))
            s = run_once(r.spark, str(self.work), [url], None)
        except Exception as ex:  # noqa: BLE001
            r.fail(op, f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}")
            return None
        dt = time.perf_counter() - t0
        self.published += [p.name for p in zips]
        if s["downloaded"] != len(zips) or s["processed"] != len(zips):
            r.fail(op, f"downloaded {s['downloaded']}, processed {s['processed']}, published {len(zips)}")
        elif s["tables"] != self.expected:
            r.fail(op, f"ingest counts {s['tables']} != generated D-rows {self.expected}")
        return dt

    def end_state(self) -> list[str]:
        """Generated D-rows == parquet footer rows, one file per
        partition, and each published ZIP in the processed ledger once."""
        bad = []
        for key, rows in self.expected.items():
            parts = sorted((self.work / "parquet" / key).glob("date=*"))
            files = [list(p.glob("*.parquet")) for p in parts]
            footer = sum(pq.ParquetFile(f).metadata.num_rows for fs in files for f in fs)
            if footer != rows:
                bad.append(f"{key}: {footer} parquet rows != {rows} generated D-rows")
            bad += [f"{p.name} of {key} holds {len(fs)} files" for p, fs in zip(parts, files) if len(fs) != 1]
        ledger = self.work / "history" / "processed"
        if not ledger.is_dir():
            self.ledger_rows = 0
            return bad + ["no processed ledger was written"]
        names = pq.read_table(str(ledger), columns=["filename"]).column("filename").to_pylist()
        if sorted(names) != sorted(self.published):
            bad.append(f"processed ledger has {len(names)} rows for {len(self.published)} published ZIPs")
        self.ledger_rows = len(names)
        return bad


def run_etl(r: Run) -> dict:
    """BACKFILLS cold-start ticks, each into a fresh site, then as many
    small incremental ticks on the last site as fit the rest of
    --seconds.  batch_s is the median backfill, op_s the median
    incremental tick."""
    base = WORK / "etl"
    shutil.rmtree(base, ignore_errors=True)
    backfills: list[float] = []
    ticks: list[float] = []
    sites = []
    start = time.perf_counter()
    for b in range(BACKFILLS):
        site = EtlSite(base / f"site{b}")
        sites.append(site)
        zips = site.make(r.rng, COLD_DATES, COLD_ZIPS, COLD_ROWS)
        dt = site.tick(r, f"backfill{b}", zips)
        if dt is not None:
            backfills.append(dt)
    for _ in range(rounds(r.args.seconds - BACKFILLS * BACKFILL_S, TICK_S)):
        zips = site.make(r.rng, (TICK_DATE,), TICK_ZIPS, TICK_ROWS)
        dt = site.tick(r, f"tick{len(ticks) + 1}", zips)
        if dt is None:
            break
        ticks.append(dt)
    r.measured_s = time.perf_counter() - start
    cold_rows = COLD_ZIPS * COLD_ROWS
    r.info.update(
        backfill_s=backfills, tick_s=ticks, cold_rows=cold_rows,
        backfill_rows_per_s=cold_rows / statistics.median(backfills) if backfills else None,
    )
    # end-state gate, outside the timed region; a wrong end state fails
    # the last tick that wrote to the site
    last = {id(sites[-1]): f"tick{len(ticks)}" if ticks else f"backfill{len(sites) - 1}"}
    for i, site in enumerate(sites):
        for msg in site.end_state():
            r.fail(last.get(id(site), f"backfill{i}"), f"end state: {msg}")
    r.layers["history.ledger_rows"] = float(sites[-1].ledger_rows)
    return {
        "batch_s": statistics.median(backfills) if backfills else 0.0,
        "op_s": statistics.median(ticks) if ticks else 0.0,
    }


WORKLOADS = {"corpus_dedup": run_corpus, "etl_service": run_etl}


# -- setup / teardown ----------------------------------------------------

def table_id() -> str:
    """A digest of the query tables' bytes: the key of the oracle cache."""
    h = hashlib.sha256()
    for p in sorted(TABLE_DIR.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process started under this one (the JVM, the Python worker daemon
    and its workers, which outlive their parent briefly) has ended."""
    from pyspark import SparkContext

    started = {pid: _start_time(pid) for pid in descendants(os.getpid())}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    t0 = time.monotonic()
    while True:
        alive = [p for p, t in started.items() if t is not None and _start_time(p) == t]
        if not alive:
            return
        waited = time.monotonic() - t0
        sig = None if waited < 10 else signal.SIGTERM if waited < 20 else signal.SIGKILL
        for pid in alive:
            try:
                if sig is not None:
                    os.kill(pid, sig)
                os.waitpid(pid, os.WNOHANG)
            except OSError:
                pass
        time.sleep(0.2)


def _start_time(pid: int) -> int | None:
    """Kernel start time of ``pid`` (None once it is gone), so a reused
    pid is not mistaken for the original process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def layer_metrics(r: Run, log_dir: Path, since_ms: int) -> dict[str, float]:
    records = eventlog.reduce_log(eventlog.find_log(str(log_dir)), since_ms=since_ms)
    tot = eventlog.total(records, skip=(eventlog.SETUP, "check"))
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update({k: float(v) for k, v in r.probes.c.items() if k in out})
    out.update(r.layers)
    for k in eventlog.FIELDS:
        out[f"spark.{k}"] = float(tot[k])
    out["spark.busy_ratio"] = tot["executor_run_s"] / (r.measured_s * r.cpus)
    ingested = r.probes.c.get("nemcsv.parquet_bytes", 0)
    out["compact.write_amp"] = out["compact.bytes_rewritten"] / ingested if ingested else 0.0
    out["trace.batch_s"] = r.e2e["batch_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter() - process_age()

    # the program under test: the engine package, bench.py's warm-up and
    # the pipeline runner; without them there is nothing to measure
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "scripts")]
    for need in ("nemscraper_spark/__init__.py", "bench.py", "scripts/run_pipeline.py"):
        if not (ROOT / need).is_file():
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")

    r = Run(args)
    r.cpus = cpus
    steal0, load0 = steal_s(), os.getloadavg()

    sampler = RssSampler()
    sampler.start()
    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # keep the JVM's temp files inside the checkout; no perf-data file
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    log_dir = WORK / "eventlog"
    if r.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    import bench
    from nemscraper_spark.session import get_spark

    r.spark = spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    bench._warm(spark, str(TABLE_DIR))
    setup_s = time.perf_counter() - started

    r.probes = probes.Probes() if r.trace else None
    if r.probes:
        r.probes.install()
    since_ms = int(time.time() * 1000)
    try:
        r.e2e = WORKLOADS[args.workload](r)
    finally:
        if r.probes:
            r.probes.uninstall()
        t_stop = time.perf_counter()
        stop_spark(spark)
        r.info["stop_s"] = time.perf_counter() - t_stop
    sampler.stop.set()
    sampler.join()

    r.e2e["setup_s"] = setup_s
    r.info["peak_rss_mb"] = r.layers["run.peak_rss_mb"] = sampler.peak / 2**20
    if r.trace:
        metrics = layer_metrics(r, log_dir, since_ms)
        shutil.rmtree(log_dir, ignore_errors=True)
        units = LAYER_UNITS
    else:
        metrics, units = r.e2e, UNITS

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": pyspark.__version__, "python": platform.python_version(),
        "steal_s": steal_s() - steal0,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "error_rate": len(r.failed_ops) / max(1, r.attempted),
        "failures": r.failures, **r.info,
    }
    result = {
        "correct": not r.failed_ops,
        "attempted": r.attempted,
        "failed": len(r.failed_ops),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    if r.trace:
        context["trace_overhead"] = (
            "not measured: one traced run against one untraced run is below "
            "run-to-run noise; compare the median trace.batch_s of traced runs "
            "with the median batch_s of untraced runs over many seeds"
        )
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    with open(results / f"{args.workload}-{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump({"context": context, "result": result, "e2e": r.e2e}, fh, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
