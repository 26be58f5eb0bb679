"""Driver-side feed fetch edge — the network boundary of the pipeline.

Mirrors the reference's download helpers (get_file_lastModifiedDate
:46-64, get_from_nist :102-110, unzip :113-123) as a thin, mockable
layer: HTTP GET .meta + zip, land the JSON, then the .meta.
Unlike the reference it fetches each .meta ONCE per run (the reference
re-fetches for the audit row, :71 vs :440 — SURVEY §4.1).

Network code is import-gated: tests and the data plane never need it
(fixture files land in the landing dir directly — the landing dir IS
the replayable bronze source, SURVEY §2 #13).
"""

from __future__ import annotations

import io
import os
import shutil
import zipfile
from pathlib import Path

BASE_URL = "https://nvd.nist.gov/feeds/json/cve/1.1/"
FEED_TEMPLATE = "nvdcve-1.1-{modifier}.json.zip"


def feed_names(this_year: int, get_all: bool = False) -> list[str]:
    """Feed modifier list (nvd2mysqlloader.py:154-163): full backfill =
    2002..current + modified + recent; default refresh = modified+recent."""
    mods = [str(y) for y in range(2002, this_year + 1)] if get_all else []
    return mods + ["modified", "recent"]


def download_feed(modifier: str, landing: str, base_url: str = BASE_URL) -> Path:
    """GET the .meta + zip for one feed and land the extracted JSON,
    then the .meta, in ``landing``. Requires network; callers in tests
    stub this out.

    The .meta is the commit marker: ``ingest.fresh_feeds`` trusts a
    sidecar's mark only for the JSON beside it, so a new mark must never
    sit beside old bytes. Its bytes are held in memory until the JSON
    is in place; each file is written to a hidden temp name (skipped by
    the gate and the Spark scan) and renamed over its final name. A
    failed request or a bad zip leaves the landing dir as it was."""
    import requests  # gated: only the real fetch edge needs it

    landing_p = Path(landing)
    landing_p.mkdir(parents=True, exist_ok=True)
    zip_name = FEED_TEMPLATE.format(modifier=modifier)
    zip_url = base_url + zip_name
    meta_url = zip_url.replace("json.zip", "meta")   # ref :56
    json_name = zip_name[:-len(".zip")]

    meta_resp = requests.get(meta_url, timeout=60)
    meta_resp.raise_for_status()   # a 404/503 body is NOT a .meta file
    zip_resp = requests.get(zip_url, timeout=120)
    zip_resp.raise_for_status()
    with zipfile.ZipFile(io.BytesIO(zip_resp.content)) as zf, \
            zf.open(json_name) as src:                # ref :113-123
        _land(landing_p / json_name, src)
    _land(landing_p / zip_name.replace("json.zip", "meta"),
          io.BytesIO(meta_resp.content))
    return landing_p / json_name


def _land(path: Path, src) -> None:
    """Copy the file object ``src`` to ``path`` through a hidden temp
    name in its directory and ``os.replace`` it into place: readers see
    the old file or the whole new one, never part of it."""
    tmp = path.with_name(f".{path.name}.tmp")
    try:
        with open(tmp, "wb") as dst:
            shutil.copyfileobj(src, dst)
            dst.flush()
            os.fsync(dst.fileno())
        os.replace(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)
