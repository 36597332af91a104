"""Seeded synthetic NEM ZIPs and a file:// feed listing for etl_service.

Each ZIP holds one NEM multi-table CSV (the C/I/D grammar the engine
ingests) with two FPP tables: UNIT_MW (4 of 5 D-rows) and
REGION_FREQ_MEASURE.  The ingest partitions rows by the date in the
file name, so the name carries the trading date.
"""

from __future__ import annotations

import os
import random
import zipfile

UNIT_KEY = "FPP---UNIT_MW---1"
FREQ_KEY = "FPP---REGION_FREQ_MEASURE---1"
_REGIONS = ("NSW1", "QLD1", "SA1", "TAS1", "VIC1")


def zip_name(date: str, seq: int) -> str:
    return f"PUBLIC_DISPATCHIS_{date}{seq // 288 % 24:02d}{seq % 288 // 12 * 5 % 60:02d}_{seq:016d}.zip"


def make_zip(path: str, date: str, n_rows: int, rng: random.Random) -> dict[str, int]:
    """Write one ZIP of ``n_rows`` D-rows dated ``date`` (YYYYMMDD).
    Returns its D-row count per table key."""
    day = f"{date[:4]}/{date[4:6]}/{date[6:]}"
    n_unit = n_rows * 4 // 5
    lines = [
        f"C,NEMP.WORLD,DISPATCHIS,AEMO,PUBLIC,{day},00:00:00,0000000000000001,,",
        "I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,"
        "MEASURED_MW,SCHEDULED_MW,MW_QUALITY_FLAG",
    ]
    start = rng.randrange(86400)
    for i in range(n_unit):
        s = (start + i * 4) % 86400
        u = rng.randrange(60)
        lines.append(
            f'D,FPP,UNIT_MW,1,"{day} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",'
            f"UNIT{u:03d},PART{u % 17:02d},{rng.uniform(0, 500):.3f},"
            f"{rng.uniform(0, 500):.3f},{rng.randrange(3)}"
        )
    lines.append(
        "I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,"
        "FREQ_DEVIATION_HZ,HZ_QUALITY_FLAG"
    )
    for i in range(n_rows - n_unit):
        s = (start + i * 4) % 86400
        lines.append(
            f'D,FPP,REGION_FREQ_MEASURE,1,"{day} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",'
            f"{rng.choice(_REGIONS)},{rng.gauss(0, 0.05):.5f},{rng.randrange(3)}"
        )
    lines.append(f'C,"END OF REPORT",{len(lines) + 1}')
    csv_name = os.path.basename(path)[:-4] + ".CSV"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr(csv_name, "\r\n".join(lines) + "\r\n")
    return {UNIT_KEY: n_unit, FREQ_KEY: n_rows - n_unit}


def write_listing(feed_dir: str) -> str:
    """(Re)write the feed's HTML listing of every published ZIP and
    return its file:// URL."""
    names = sorted(f for f in os.listdir(feed_dir) if f.endswith(".zip"))
    body = "".join(f'<a href="{n}">{n}</a>\n' for n in names)
    listing = os.path.join(feed_dir, "listing.html")
    tmp = listing + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(f"<html><body>\n{body}</body></html>\n")
    os.replace(tmp, listing)
    return "file://" + os.path.abspath(listing)
