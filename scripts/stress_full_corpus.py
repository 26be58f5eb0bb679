#!/usr/bin/env python
"""Full-corpus ingest stress (VERDICT r10 ask #2): run the engine
against the reference's OWN workload at the reference's own scale —
~25 yearly NVD feeds, ~200k CVEs, ~0.5–1 GB of nested JSON — and
record the one number that answers the north star directly: how long
the Spark pipeline takes to do what nvd2mysqlloader.py does with ~6
MySQL round-trips per CVE (nvd2mysqlloader.py:448-486).

Lifecycle exercised, in order (the reference's full operating loop
plus the delete/maintenance paths it lacks):

1. **cold load** — 25 yearly feeds (2002–2026, CVE counts ramped the
   way the real corpus grows year over year), one `run_ingest`
   batch: multiLine JSON scan → explode → flatten (zero row-UDFs) →
   last-writer-wins dedup → MERGE into silver (partitioned by
   published_year) + bronze (partitioned by feed_year) + audit
   append. The planted '** REJECT **' rows (1/50 of one feed) are the
   merge's deletes: tally_after == total unique CVEs − rejects, and
   neither table holds one.
2. **incremental no-op** — same landing dir, unchanged .meta marks:
   the high-water-mark gate (ingest.fresh_feeds) must load ZERO
   feeds; this is the every-2-hours cron case (reference README) and
   must cost seconds, not a reload.
3. **incremental delta** — ONE feed's .meta is bumped and its file
   regrown by +2,000 CVEs: exactly one feed re-ingests; the merge
   touches only the partitions the delta lands in.
4. **purge_rejected** — the repair for warehouses an earlier build
   loaded: it scans all of silver, finds nothing here and publishes
   nothing.
5. **maintenance** — compact_parquet over both tables; files per
   partition before/after recorded (micro-append accretion is the
   shape streaming gates produce; the cold load here writes few
   files, so compaction is usually a cheap no-op — recorded either
   way).

Prints ONE JSON dict; the committed table lives in PLANS.md
(§full-corpus ingest). Wall times are single-shot (this is a
lifecycle stress, not a steady-state benchmark — bench.py's
nvd_ingest_20k covers the repeat-median ingest number).

Usage: python scripts/stress_full_corpus.py [total_cves]
         (default 200_000; JSON volume scales with it)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F                     # noqa: E402

from bench import synth_cve_feed                           # noqa: E402
from nvd2mysqlloader_spark.ingest import (                 # noqa: E402
    purge_rejected, run_ingest)
from nvd2mysqlloader_spark.operators.compaction import (   # noqa: E402
    list_data_files)
from nvd2mysqlloader_spark.session import get_spark        # noqa: E402

YEARS = list(range(2002, 2027))                 # 25 feeds
# description padding that puts the synthetic corpus in the real
# corpus's JSON-volume band (~0.5-1 GB for ~200k CVEs): real entries
# carry multiple references + long descriptions the minimal shape
# lacks
DESC_PAD = 2048
REJECT_EVERY = 50                                # in the 2002 feed only
DELTA_FEED_YEAR = 2026
DELTA_EXTRA = 2_000


def feed_counts(total: int) -> dict[int, int]:
    """CVE count per yearly feed, ramped like the real corpus (early
    years small, late years large): weight year k by (k+1),
    normalized."""
    w = {y: i + 1 for i, y in enumerate(YEARS)}
    s = sum(w.values())
    counts = {y: max(200, total * wy // s) for y, wy in w.items()}
    return counts


def files_per_partition(path: str) -> dict:
    parts: dict[str, int] = {}
    for f, _sz in list_data_files(path):
        d = os.path.basename(os.path.dirname(f))
        parts[d] = parts.get(d, 0) + 1
    if not parts:
        return {"partitions": 0, "max_files": 0, "mean_files": 0.0}
    return {"partitions": len(parts),
            "max_files": max(parts.values()),
            "mean_files": round(sum(parts.values()) / len(parts), 2)}


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    tmp = tempfile.mkdtemp(prefix="stress_full_corpus_")
    landing, wh = f"{tmp}/landing", f"{tmp}/warehouse"
    report: dict = {"metric": "full_corpus_ingest", "unit": "sec"}
    try:
        counts = feed_counts(total)
        t0 = time.perf_counter()
        for y, n in counts.items():
            synth_cve_feed(landing, n, year=y, desc_pad=DESC_PAD,
                           reject_every=REJECT_EVERY if y == 2002
                           else 0)
        gen_sec = time.perf_counter() - t0
        json_bytes = sum(
            os.path.getsize(os.path.join(landing, f))
            for f in os.listdir(landing) if f.endswith(".json"))
        n_total = sum(counts.values())
        report.update(feeds=len(counts), cves=n_total,
                      json_gb=round(json_bytes / 1e9, 3),
                      gen_sec=round(gen_sec, 1))

        spark = get_spark("stress_full_corpus")
        spark.range(1000).selectExpr("sum(id)").collect()   # warm JVM

        # 1. cold load; the planted rejects (1/REJECT_EVERY of feed
        # 2002) are withdrawn records, deleted by the load's merge
        rejects = -(-counts[2002] // REJECT_EVERY)
        t0 = time.perf_counter()
        stats = run_ingest(spark, landing, wh)
        cold = time.perf_counter() - t0
        assert stats["feeds"] == len(counts), stats
        assert stats["cves"] == n_total, stats
        assert stats["withdrawn"] == rejects, (stats, rejects)
        assert stats["tally_after"] == n_total - rejects, stats  # parity
        for table, col in (("nvd", "summary"), ("nvd_json", "cve_item")):
            left = (spark.read.parquet(f"{wh}/{table}")
                    .filter(F.col(col).contains("** REJECT **")).count())
            assert left == 0, (table, left)
        report["cold_ingest_sec"] = round(cold, 1)
        report["cold_cves_per_sec"] = round(n_total / cold)
        report["tally_parity"] = stats["tally_after"] == n_total - rejects
        report["withdrawn"] = stats["withdrawn"]

        # 2. incremental no-op (high-water-mark gate)
        t0 = time.perf_counter()
        stats = run_ingest(spark, landing, wh)
        report["noop_ingest_sec"] = round(time.perf_counter() - t0, 2)
        assert stats["feeds"] == 0 and stats["added"] == 0, stats

        # 3. incremental delta: one feed grows and its .meta advances
        y = DELTA_FEED_YEAR
        synth_cve_feed(landing, counts[y] + DELTA_EXTRA, year=y,
                       desc_pad=DESC_PAD,
                       meta_stamp=f"{y}-07-01T03:00:00-04:00")
        t0 = time.perf_counter()
        stats = run_ingest(spark, landing, wh)
        delta = time.perf_counter() - t0
        assert stats["feeds"] == 1, stats
        assert stats["added"] == DELTA_EXTRA, stats
        report["delta_ingest_sec"] = round(delta, 1)
        report["delta_added"] = stats["added"]

        # 4. the repair purge: the load kept no reject, so it finds none
        t0 = time.perf_counter()
        purged = purge_rejected(spark, wh)
        report["purge_sec"] = round(time.perf_counter() - t0, 1)
        report["purged"] = purged
        assert purged == 0, purged
        tally = (spark.read.parquet(f"{wh}/nvd")
                 .select(F.count_distinct("cve_id")).first()[0])
        assert tally == n_total + DELTA_EXTRA - rejects, tally
        report["final_tally"] = tally

        # 5. maintenance: files-per-partition before/after compaction
        report["silver_files_before"] = files_per_partition(f"{wh}/nvd")
        from nvd2mysqlloader_spark.operators.compaction import \
            compact_parquet
        t0 = time.perf_counter()
        report["compaction"] = {
            "nvd": compact_parquet(spark, f"{wh}/nvd"),
            "nvd_json": compact_parquet(spark, f"{wh}/nvd_json"),
        }
        report["compact_sec"] = round(time.perf_counter() - t0, 1)
        report["silver_files_after"] = files_per_partition(f"{wh}/nvd")

        spark.stop()
        print(json.dumps(report))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
