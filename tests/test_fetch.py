"""S1-S3 fetcher: link extraction, retry/backoff, atomic download,
poll-tick dedup — all offline via an injected transport."""

from __future__ import annotations

import os

import pytest

from nemscraper_spark.sources.fetch import (
    download_zip,
    fetch_feed_links,
    poll_feeds_once,
)

FEED_HTML = b"""
<html><body>
<a href="/REPORTS/PUBLIC_A_20220720_0001.zip">A</a>
<a href='PUBLIC_B_20220720_0002.ZIP'>B (case)</a>
<a href="notes.txt">not a zip</a>
<a href="/REPORTS/PUBLIC_A_20220720_0001.zip">dup</a>
</body></html>
"""


def test_fetch_feed_links_resolves_and_dedups():
    links = fetch_feed_links(
        "http://feed.example/REPORTS/", get=lambda u: FEED_HTML
    )
    assert links == [
        "http://feed.example/REPORTS/PUBLIC_A_20220720_0001.zip",
        "http://feed.example/REPORTS/PUBLIC_B_20220720_0002.ZIP",
    ]


def test_feed_retries_then_raises():
    calls = []

    def flaky(u):
        calls.append(u)
        raise OSError("down")

    with pytest.raises(RuntimeError):
        fetch_feed_links("http://x/", get=flaky, sleep=lambda s: None)
    assert len(calls) == 5  # urls.rs:94-96


def test_download_atomic_and_backoff(tmp_path):
    attempts = []
    delays = []

    def get(u):
        attempts.append(u)
        if len(attempts) < 3:
            raise OSError("reset")
        return b"PK\x03\x04zipbytes"

    row = download_zip(
        "http://x/PUBLIC_A_20220720_0001.zip",
        str(tmp_path),
        get=get,
        sleep=delays.append,
    )
    assert row["size_bytes"] == 12
    assert delays == [1.0, 2.0]  # 1<<attempt (zips.rs:80)
    assert os.path.exists(tmp_path / "PUBLIC_A_20220720_0001.zip")
    assert not os.path.exists(tmp_path / "PUBLIC_A_20220720_0001.zip.tmp")


def test_poll_tick_dedups_against_history_and_disk(tmp_path):
    def get(u):
        return FEED_HTML if u.endswith("/") else b"zipbytes"

    seen = {"PUBLIC_A_20220720_0001.zip"}  # the history ledger says: done
    rows = poll_feeds_once(
        ["http://feed.example/REPORTS/"],
        str(tmp_path),
        already_downloaded=lambda names: seen.intersection(names),
        get=get,
    )
    assert [r["filename"] for r in rows] == ["PUBLIC_B_20220720_0002.ZIP"]
    # second tick: nothing new (file now on disk)
    rows2 = poll_feeds_once(
        ["http://feed.example/REPORTS/"],
        str(tmp_path),
        already_downloaded=lambda names: seen.intersection(names),
        get=get,
    )
    assert rows2 == []
