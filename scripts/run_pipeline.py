#!/usr/bin/env python
"""End-to-end operational runner — the engine's equivalent of running
the reference's three processes (nemscraper + compactor + crunch,
docker-compose.yaml:2-85) as one Spark driver program:

    poll feeds → download unseen ZIPs (ledger-deduped)
      → NEM-CSV split/typed ingest (+ conservation check)
      → per-partition compaction under the evolved schema
      → FPP analytics outputs (01/03/04-style parquet)

One --once pass is the testable unit (tests/test_pipeline_script.py
drives it on the in-repo fixture ZIP); --loop N repeats with the
reference's poll cadence (urls.rs:176-184). Feeds are any URLs
``fetch.parse_feed_links`` can read — file:// directory listings work,
which is what the smoke test uses.

Usage:
  python scripts/run_pipeline.py --workdir /tmp/nem --feed file:///...listing.html --once
  python scripts/run_pipeline.py --workdir /tmp/nem --landing-only --once
      (skip polling; process whatever ZIPs are already in
       <workdir>/zips — the daily re-enqueue sweep shape, main.rs:286-307)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


STAGES = ("poll", "ledger", "ingest", "compact", "outputs", "vacuum")


class _StageClock(dict):
    """Per-stage seconds of one tick (time.perf_counter). Stages nest —
    the ledger lookup runs inside the poll — and a nested stage's time
    is taken out of its enclosing one, so the stages add up to the
    tick."""

    def __init__(self):
        super().__init__(dict.fromkeys(STAGES, 0.0))
        self._open: list[str] = []

    @contextmanager
    def __call__(self, stage: str):
        self._open.append(stage)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._open.pop()
            self[stage] += dt
            if self._open:
                self[self._open[-1]] -= dt

    def timed(self, stage: str, fn):
        def wrapper(*a, **kw):
            with self(stage):
                return fn(*a, **kw)

        return wrapper


def compact_tables(spark, parquet_dir: str) -> dict:
    """Compact every table under ``parquet_dir`` (compactor.rs:584-792).
    Tables are disjoint directories, so their ``compact_table`` calls
    run from one driver-side thread pool — the shape ``ingest`` uses
    for its per-table writes."""
    from nemscraper_spark.plans.compact import compact_table

    troots = [t for t in sorted(glob.glob(os.path.join(parquet_dir, "*"))) if os.path.isdir(t)]
    if len(troots) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(troots))) as pool:
            results = list(pool.map(lambda t: compact_table(spark, t), troots))
    else:
        results = [compact_table(spark, t) for t in troots]
    return {os.path.basename(t): res for t, res in zip(troots, results) if res}


def run_once(
    spark,
    workdir: str,
    feeds: list[str],
    sf_dir: str | None,
    mirror: str | None = None,
) -> dict:
    """One tick: returns a summary dict of what moved, with the seconds
    each stage took in ``stage_s``."""
    from nemscraper_spark.plans.history import TableHistory
    from nemscraper_spark.sources import fetch
    from nemscraper_spark.sources.nemcsv import ingest

    zips_dir = os.path.join(workdir, "zips")
    parquet_dir = os.path.join(workdir, "parquet")
    history_root = os.path.join(workdir, "history")
    output_dir = os.path.join(workdir, "output")
    for d in (zips_dir, parquet_dir, history_root, output_dir):
        os.makedirs(d, exist_ok=True)

    downloaded = TableHistory(spark, history_root, "downloaded")
    processed = TableHistory(spark, history_root, "processed")
    clock = _StageClock()

    summary: dict = {"downloaded": 0, "processed": 0, "tables": {}, "compacted": {}}

    # 1. poll + download, deduped against the ledger (main.rs:147-197)
    if feeds:
        with clock("poll"):
            rows = fetch.poll_feeds_once(
                feeds, zips_dir, already_downloaded=clock.timed("ledger", downloaded.seen)
            )
        if rows:
            with clock("ledger"):
                downloaded.add(rows)
        summary["downloaded"] = len(rows)

    # 2. ingest every ZIP the processed ledger hasn't seen (main.rs:248-275)
    all_zips = sorted(glob.glob(os.path.join(zips_dir, "*.zip")))
    with clock("ledger"):
        done = processed.seen(os.path.basename(z) for z in all_zips)
    todo = [z for z in all_zips if os.path.basename(z) not in done]
    if todo:
        with clock("ingest"):
            counts = ingest(spark, todo, parquet_dir)
        with clock("ledger"):
            processed.add(
                [
                    {"filename": os.path.basename(z), "size_bytes": os.path.getsize(z)}
                    for z in todo
                ]
            )
        summary["processed"] = len(todo)
        summary["tables"] = counts

    # 3. compact each table's multi-file partitions (compactor.rs:584-792)
    with clock("compact"):
        summary["compacted"] = compact_tables(spark, parquet_dir)

    # 3b. mirror the compacted tree to the bucket (S15 — the
    #     reference's gcloud-sync sidecar, scripts/gcloud-sync.sh:22-41)
    if mirror:
        from nemscraper_spark.sources.sync import mirror_tree

        with clock("outputs"):
            summary["mirror"] = mirror_tree(parquet_dir, mirror)

    # 4. analytics outputs (crunch.rs:39-82's 01..05 parquet), snappy
    #    like the reference's hot outputs (crunch.rs:163-166)
    if sf_dir:
        from nemscraper_spark.queries.fpp_pipeline import (
            actual_performance,
            fpp_frequency_measure_ewma,
            performance,
            reference_trajectory,
            unit_deviations,
        )

        # the full crunch output set 01..05 (crunch.rs:39-82)
        with clock("outputs"):
            for name, df in (
                ("01_frequency_measure", fpp_frequency_measure_ewma(spark, sf_dir)),
                ("02_reference_trajectory", reference_trajectory(spark, sf_dir)),
                ("03_unit_deviations", unit_deviations(spark, sf_dir)),
                ("04_performance", performance(spark, sf_dir)),
                ("05_actual_performance", actual_performance(spark, sf_dir)),
            ):
                df.write.mode("overwrite").option("compression", "snappy").parquet(
                    os.path.join(output_dir, f"{name}.parquet")
                )
        summary["outputs"] = 5

    with clock("vacuum"):
        downloaded.vacuum()
        processed.vacuum()
    summary["stage_s"] = {k: round(v, 4) for k, v in clock.items()}
    return summary


def run_loop(
    spark,
    workdir: str,
    feeds: list[str],
    sf_dir: str | None,
    extra_ticks: int = 0,
    interval_sec: float = 60.0,
    stop: threading.Event | None = None,
    mirror: str | None = None,
) -> list[dict]:
    """The reference's long-running service shape, as one driver loop:

    * every tick is a FULL zips-dir sweep deduped against the processed
      ledger — run_once re-globs the directory each time, so files that
      arrive out-of-band (scp'd in, a crashed tick's leftovers, a
      previously failed ingest that never reached the ledger) are
      picked up on the next tick. This subsumes the reference's daily
      re-enqueue sweep (main.rs:286-307): same idempotence contract
      (ledger-keyed skip), tighter cadence.
    * SIGINT/SIGTERM stop the loop GRACEFULLY (utils.rs:5-31): the
      in-flight tick finishes — ingest + ledger append + compaction
      swap are never interrupted mid-write, so the ledger stays
      consistent with the parquet on disk — then the loop exits before
      the next tick. The sleep is an interruptible Event.wait, so an
      idle loop reacts immediately.

    Returns the per-tick summaries (the driver prints them as JSON).
    """
    stop = stop or threading.Event()
    prev_handlers = {}

    def _on_signal(signum, frame):
        print(
            json.dumps({"event": "shutdown_signal", "signal": int(signum)}),
            flush=True,
        )
        stop.set()

    # install only in the main thread (signal.signal raises elsewhere —
    # tests drive this function directly, sometimes off-thread)
    if threading.current_thread() is threading.main_thread():
        for sig in (signal.SIGINT, signal.SIGTERM):
            prev_handlers[sig] = signal.signal(sig, _on_signal)
    try:
        summaries = []
        if not stop.is_set():
            s = run_once(spark, workdir, feeds, sf_dir, mirror=mirror)
            print(json.dumps({"event": "tick", **s}), flush=True)
            summaries.append(s)
        for _ in range(extra_ticks):
            # urls.rs:176-184 poll cadence; wait() returns True on stop
            if stop.wait(interval_sec):
                break
            s = run_once(spark, workdir, feeds, sf_dir, mirror=mirror)
            print(json.dumps({"event": "tick", **s}), flush=True)
            summaries.append(s)
        if stop.is_set():
            print(json.dumps({"event": "graceful_stop"}), flush=True)
        return summaries
    finally:
        for sig, h in prev_handlers.items():
            signal.signal(sig, h)


def run_streaming(
    spark,
    workdir: str,
    feeds: list[str],
    sf_dir: str | None,
    extra_ticks: int = 0,
    interval_sec: float = 60.0,
    stop: threading.Event | None = None,
    mirror: str | None = None,
) -> list[dict]:
    """--streaming mode: the continuous deployment shape end-to-end on
    Structured Streaming (SURVEY.md §2.9) instead of the batch loop.

    The file-source checkpoint replaces the processed ledger's dedup
    role — each ZIP is ingested exactly once across restarts with no
    ledger hydration (streaming/ingest.py) — while the driver loop
    keeps the parts a stream can't own: feed polling/downloads into the
    landing dir, per-tick compaction, FPP outputs, and graceful
    SIGINT/SIGTERM stop (query.stop() between micro-batches).

    One tick == drain-everything-available (availableNow trigger), so
    --once is a synchronous, testable unit exactly like the batch mode.
    """
    from nemscraper_spark.plans.history import TableHistory
    from nemscraper_spark.sources import fetch
    from nemscraper_spark.streaming.ingest import start_ingest_stream

    stop = stop or threading.Event()
    prev_handlers = {}

    def _on_signal(signum, frame):
        print(
            json.dumps({"event": "shutdown_signal", "signal": int(signum)}),
            flush=True,
        )
        stop.set()

    if threading.current_thread() is threading.main_thread():
        for sig in (signal.SIGINT, signal.SIGTERM):
            prev_handlers[sig] = signal.signal(sig, _on_signal)

    zips_dir = os.path.join(workdir, "zips")
    parquet_dir = os.path.join(workdir, "parquet")
    history_root = os.path.join(workdir, "history")
    output_dir = os.path.join(workdir, "output")
    checkpoint_dir = os.path.join(workdir, "checkpoint")
    for d in (zips_dir, parquet_dir, history_root, output_dir):
        os.makedirs(d, exist_ok=True)

    downloaded = TableHistory(spark, history_root, "downloaded")
    processed = TableHistory(spark, history_root, "processed")

    def _tick() -> dict:
        summary: dict = {"downloaded": 0, "tables": {}, "compacted": {}}
        if feeds:
            rows = fetch.poll_feeds_once(
                feeds, zips_dir, already_downloaded=downloaded.seen
            )
            if rows:
                downloaded.add(rows)
            summary["downloaded"] = len(rows)
        # drain everything currently in the landing dir through the
        # checkpointed stream; blocks until the micro-batch completes
        q = start_ingest_stream(
            spark,
            zips_dir,
            parquet_dir,
            checkpoint_dir,
            available_now=True,
            history=processed,
        )
        q.awaitTermination()
        summary["compacted"] = compact_tables(spark, parquet_dir)
        if mirror:
            from nemscraper_spark.sources.sync import mirror_tree

            summary["mirror"] = mirror_tree(parquet_dir, mirror)
        if sf_dir:
            from nemscraper_spark.queries.fpp_pipeline import performance

            performance(spark, sf_dir).write.mode("overwrite").option(
                "compression", "snappy"
            ).parquet(os.path.join(output_dir, "04_performance.parquet"))
            summary["outputs"] = 1
        return summary

    try:
        summaries = []
        if not stop.is_set():
            s = _tick()
            print(json.dumps({"event": "stream_tick", **s}), flush=True)
            summaries.append(s)
        for _ in range(extra_ticks):
            if stop.wait(interval_sec):
                break
            s = _tick()
            print(json.dumps({"event": "stream_tick", **s}), flush=True)
            summaries.append(s)
        if stop.is_set():
            print(json.dumps({"event": "graceful_stop"}), flush=True)
        return summaries
    finally:
        for sig, h in prev_handlers.items():
            signal.signal(sig, h)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--feed", action="append", default=[], help="feed URL (repeatable)")
    ap.add_argument("--landing-only", action="store_true", help="skip polling")
    ap.add_argument("--sf-dir", default=None, help="run FPP outputs over this table dir")
    ap.add_argument("--once", action="store_true")
    ap.add_argument("--loop", type=int, default=0, help="N extra ticks")
    ap.add_argument("--interval", type=float, default=60.0, help="tick spacing, sec")
    ap.add_argument(
        "--mirror",
        default=None,
        help="mirror the compacted tree to this URI after each tick "
        "(file:// gs:// s3:// — the reference's gcloud-sync sidecar)",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="ingest via the checkpointed Structured Streaming file source "
        "instead of the ledger-deduped batch loop",
    )
    args = ap.parse_args()

    from nemscraper_spark.session import get_spark

    spark = get_spark(app_name="nem_pipeline")
    feeds = [] if args.landing_only else args.feed
    runner = run_streaming if args.streaming else run_loop
    runner(
        spark,
        args.workdir,
        feeds,
        args.sf_dir,
        extra_ticks=0 if args.once else args.loop,
        interval_sec=args.interval,
        mirror=args.mirror,
    )
    spark.stop()


if __name__ == "__main__":
    main()
