"""Ingest pipeline — the reference's ``main()`` path (EP1, SURVEY §3)
re-expressed as one batched Spark job per run.

Reference flow (nvd2mysqlloader.py:508-531): per feed, sequentially —
HTTP .meta → freshness gate → download zip → unzip → json.loads →
row-at-a-time INSERT/REPLACE with per-row commits. Here:

  landing dir (pre-downloaded feed JSON + .meta sidecars)
      │ .meta sidecars vs update_history high-water mark,
      │   read on the driver (no Spark job)                       (gate, #15/#16)
      │ read_feed(all fresh feeds at once) ─ explode ─ flatten    (#5,#6,#19-23)
      │ last_writer_wins dedup (modified/recent overlap years)    (#34)
      │ merge_upsert into silver parquet  +  bronze raw copy:     (#10,#11)
      │   a withdrawn ('** REJECT **') winner is a delete
      └ append update_history audit rows                          (#9)

One atomic write per table per run replaces ~6 MySQL round-trips per
CVE, and the tally before and after is the pinned versions' parquet
footer row counts. The download/unzip edge (network) stays a thin
driver-side helper (``fetch.py``) exactly as the reference keeps it
outside the data plane.

The scheduled refresh (the reference polling ``modified``/``recent``)
is this CLI run on a schedule; there is no other refresh path. The
gate is exactly-once because the fetch lands each feed's JSON before
its ``.meta``: the sidecar is the commit marker, so a mark never
describes bytes that have not landed, and an in-place rewrite of a
feed is seen by its newer mark. A fresh sidecar with no JSON beside it
is reported rejected and retried, like a feed that does not parse.

At scale: silver is partitioned by ``year(published)`` — the partition-
pruning replacement for the reference's ``dates`` index (:400); feeds
parallelize by file; the MERGE shuffles once on cve_id.

CLI:  python -m nvd2mysqlloader_spark.ingest --landing DIR --warehouse DIR
"""

from __future__ import annotations

import argparse
import os
import sys
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .operators import table_io
from .operators.compaction import list_data_files
from .operators.flatten import flatten_cve
from .operators.upsert import last_writer_wins, write_upsert_parquet
from .schemas import UPDATE_HISTORY_SCHEMA
from .sources.cve_feed import explode_items, read_feed
from .sources.meta_file import read_meta

# a .meta sidecar's row: update_history without the download stamp
META_SCHEMA = T.StructType([f for f in UPDATE_HISTORY_SCHEMA.fields
                            if f.name != "downloadedDate"])
META_ARROW = to_arrow_schema(META_SCHEMA)
# NVD withdraws a CVE by rewriting its summary with this prefix
REJECT_PREFIX = "** REJECT **"


def fresh_feeds(spark: SparkSession, landing: str, warehouse: str) -> DataFrame:
    """Feeds whose remote .meta is newer than the stored high-water
    mark — the incremental gate (nvd2mysqlloader.py:67-99). Missing
    state ⇒ everything is fresh (the sentinel-date semantics, :89).

    Runs on the driver, no Spark job: the sidecars are a few lines
    each, and the high-water mark per feed is ``max_by(lastModifiedDate,
    downloadedDate)`` over ``update_history`` read with pyarrow. A feed
    is fresh when it has no mark or its ``lastModifiedDate`` is greater
    as a string. Returns a local DataFrame of ``META_SCHEMA`` rows."""
    meta = read_meta(landing)
    hist = f"{warehouse}/update_history"
    if os.path.exists(hist):
        # deliberately NO blanket except here: a corrupt/unreadable
        # update_history must raise, not silently degrade to "reload
        # everything" — the idempotent upsert would make that safe but
        # it masks real state corruption the operator needs to see
        # (same genus as round 4's silent-except purge)
        cols = pq.read_table(hist, columns=[
            "download_name", "lastModifiedDate", "downloadedDate"]).to_pydict()
        best: dict[str, tuple[str, str | None]] = {}
        for name, lmd, dl in zip(cols["download_name"],
                                 cols["lastModifiedDate"],
                                 cols["downloadedDate"]):
            if dl is not None and (name not in best or dl > best[name][0]):
                best[name] = (dl, lmd)
        stored = {name: lmd for name, (_dl, lmd) in best.items()}
        meta = [m for m in meta if stored.get(m["download_name"]) is None
                or (m["lastModifiedDate"] is not None
                    and m["lastModifiedDate"] > stored[m["download_name"]])]
    # from an Arrow table, not a row list: a LocalRelation, so neither
    # collecting the names nor the audit append's scan runs a job for it
    return spark.createDataFrame(pa.Table.from_pylist(meta, META_ARROW))


def _withdrawn(summary: Column) -> Column:
    """True for a summary NVD marks withdrawn; never null."""
    return F.coalesce(summary.startswith(REJECT_PREFIX), F.lit(False))


def _footer_rows(path: str) -> int:
    """Rows of the table's published version, summed from its parquet
    footers on the driver (no Spark job); 0 when unpublished."""
    cur = table_io.current_version(path)
    return table_io.footer_rows(
        f for f, _size in (list_data_files(cur) if cur else []))


def run_ingest(spark: SparkSession, landing: str, warehouse: str,
               maintain: bool = False,
               include_children_cpes: bool = False) -> dict:
    """One incremental batch. Returns counts (the reference's tally
    delta report, nvd2mysqlloader.py:562-573): ``feeds`` loaded,
    ``rejected`` (the names of fresh feeds that did not parse or whose
    JSON is absent — they get no audit row, so the next run retries
    them), ``cves`` in the batch, ``withdrawn`` (the batch's CVEs whose
    winning record NVD withdrew: deleted from both tables, or never
    added) and the tally before and after.

    Each table gets one merge and one publish: a withdrawn record
    that wins last-writer-wins is the merge's delete. The tally is the
    published silver version's footer row count, which equals
    ``count(distinct cve_id)`` because the merge keeps one row per key.

    ``maintain=True`` runs ``compact_parquet`` on both warehouse
    tables after the load (the OPTIMIZE-after-ingest pattern). The
    upsert rewrites each partition it touches into one file, so a
    table ingest wrote skips until `plan_compaction` says a rewrite
    pays, e.g. after another writer appended small files to it.

    ``include_children_cpes=True`` opts into depth-2 CPE extraction
    (operators.flatten.cpe_uris): vulnerable CPEs nested under AND
    nodes' ``children[*].cpe_match``, which the reference silently
    drops (nvd2mysqlloader.py:180-185), land in
    ``vulnerable_software_list`` and therefore in the derived cve2cpe
    view and ``query_layer.cpe_search``. Default is reference parity.
    Flipping the flag on an EXISTING warehouse only affects newly
    ingested batches — reload (fresh warehouse or bumped .meta marks)
    to re-extract old feeds."""
    silver_path = f"{warehouse}/nvd"
    bronze_path = f"{warehouse}/nvd_json"
    _check_bronze_layout(bronze_path)
    before = _footer_rows(silver_path)      # count(distinct cve_id), ref :494

    fresh = fresh_feeds(spark, landing, warehouse)
    names = [r.download_name for r in fresh.collect()]
    # a fresh sidecar whose feed has not landed (its fetch failed after
    # the .meta, or another tool landed it) is rejected, not read: one
    # missing path would fail the whole scan
    missing = [n for n in names if not os.path.isfile(f"{landing}/{n}.json")]
    paths = [f"{landing}/{n}.json" for n in names if n not in missing]
    if not paths:
        return {"feeds": 0, "rejected": missing, "cves": 0, "withdrawn": 0,
                "tally_before": before, "tally_after": before, "added": 0}
    # feeds that do not parse, observed on the scan that fills the
    # cache below (PERMISSIVE mode turns each into one row with
    # _corrupt_record set): no second parse unless the batch is empty
    parsed = Observation("ingest_feeds")
    scan = read_feed(spark, paths).withColumn("__file", F.input_file_name())
    feed = scan.observe(parsed, F.collect_set(F.when(
        F.col("_corrupt_record").isNotNull(), F.col("__file")))
        .alias("rejected"))
    # cache the exploded items: silver and bronze both consume
    # them, and multiLine JSON parsing is the most expensive stage.
    # Repartition BY CVE ID first: a multiLine feed is one
    # unsplittable file = one scan partition, so without this the
    # largest feed's entire downstream (flatten, to_json, both
    # dedup shuffles' map sides) runs in a single straggler task —
    # bisected in scripts/stress_ingest_parallelism.py (ramped-25
    # 58.2 s vs equal-25 10.0 s on identical bytes). Hashing on
    # cve_id (not round-robin) makes the one exchange do double
    # duty: it balances the skew AND already satisfies both
    # last_writer_wins windows' partitionBy(cve_id) distribution,
    # so Catalyst inserts no further exchange for the dedups.
    items = (explode_items(feed)
             .repartition(spark.sparkContext.defaultParallelism,
                          F.col("cve.cve.CVE_data_meta.ID"))
             .cache())
    # every exit path (write failure, success) drops the cached blocks
    # via the try/finally — a long-lived scheduler session must not
    # accumulate pinned storage across runs
    try:
        return _ingest_batch(spark, warehouse, fresh, items, names, missing,
                             scan, parsed, silver_path, bronze_path, before,
                             maintain, include_children_cpes)
    finally:
        items.unpersist()


def _ingest_batch(spark, warehouse, fresh, items, names, missing, scan,
                  parsed, silver_path, bronze_path, before, maintain,
                  include_children_cpes=False):
    # modified/recent feeds overlap yearly ones by design — dedup the
    # batch last-writer-wins on (lastModifiedDate, cve_id) before MERGE.
    # published_year partitions the silver table: Catalyst partition
    # pruning replaces the reference's `dates` index (:400). A winner
    # NVD withdrew carries __withdrawn: the merge deletes its key
    silver = last_writer_wins(
        flatten_cve(items, include_children_cpes=include_children_cpes),
        ["cve_id"], ["last_modified_datetime"]
    ).withColumn(
        "published_year",
        # try_cast, NOT cast: a missing publishedDate flattens to ''
        # and ANSI mode (Spark 4 default) makes cast('' as int) an
        # ERROR, not NULL — the coalesce fallback would be dead code
        # and one undated CVE would abort the whole batch
        F.coalesce(F.substring("published_datetime", 1, 4)
                   .try_cast("int"),
                   F.lit(0))
    ).withColumn("__withdrawn", _withdrawn(F.col("summary")))
    # bronze dedups independently on the raw record's own
    # lastModifiedDate — joining back to silver would recompute the
    # whole flatten pipeline a second time. Its flag is the silver
    # flag over the raw description_data (flatten's summary
    # expression), so both tables delete the same winners
    bronze_src = items.select(
        F.col("cve.cve.CVE_data_meta.ID").alias("cve_id"),
        F.to_json(F.col("cve")).alias("cve_item"),
        F.col("cve.lastModifiedDate").alias("__lmd"),
        _withdrawn(F.array_join(F.transform(
            F.col("cve.cve.description.description_data"),
            lambda x: x["value"]), "")).alias("__withdrawn"))
    # bronze partitions by the CVE id's own year ("CVE-2024-0001" →
    # 2024 — the NVD yearly-feed partitioning itself): derived from
    # the immutable key, so an updated record can never migrate
    # partitions, and a purge/delete against bronze rewrites only the
    # touched years instead of the whole raw-JSON table
    bronze = (last_writer_wins(bronze_src, ["cve_id"], ["__lmd"])
              .drop("__lmd")
              .withColumn("feed_year", F.coalesce(
                  F.substring("cve_id", 5, 4).try_cast("int"),
                  F.lit(0))))

    # batch row count observed on the write pass itself — no separate
    # count() action re-running the whole flatten (ref's cvecount loop,
    # :448-453, for free)
    obs = Observation("ingest_metrics")
    silver = silver.observe(obs, F.count(F.lit(1)).alias("n_cves"),
                            F.count_if("__withdrawn").alias("withdrawn"))
    cur = table_io.current_version(silver_path)
    write_upsert_parquet(silver_path, silver, ["cve_id"],
                         partition_by=["published_year"],
                         delete_flag="__withdrawn")
    if table_io.current_version(silver_path) == cur:
        # an empty batch against an existing table publishes nothing,
        # and AQE, once the cached items prove empty, replaces the whole
        # plan, so neither observation is filled: nothing to merge, and
        # one scan of the feeds names those that did not parse (it reads
        # CVE_Items too: Spark refuses a JSON scan of only the
        # corrupt-record column)
        n_cves = withdrawn = 0
        files = [r[0] for r in scan.filter(
            F.col("_corrupt_record").isNotNull()
            & F.col("CVE_Items").isNull()).select("__file").collect()]
    else:
        n_cves, withdrawn = obs.get["n_cves"], obs.get["withdrawn"]
        # the silver write filled the items cache: the scan's observation
        files = parsed.get["rejected"]
        write_upsert_parquet(bronze_path, bronze, ["cve_id"],
                             partition_by=["feed_year"],
                             delete_flag="__withdrawn")
    rejected = sorted(missing + [os.path.basename(unquote(f))[:-len(".json")]
                                 for f in files])

    # audit append — one row per feed that parsed (ref :441-447). A
    # rejected feed gets none, so the high-water mark stays where it
    # was and the next run retries the feed
    if rejected:
        fresh = fresh.filter(~F.col("download_name").isin(rejected))
    audit = (fresh.withColumn("downloadedDate",
                              F.date_format(F.current_timestamp(),
                                            "yyyy-MM-dd'T'HH:mm:ss"))
             .select(*[f.name for f in UPDATE_HISTORY_SCHEMA.fields]))
    audit.write.mode("append").parquet(f"{warehouse}/update_history")

    stats = {"feeds": len(names) - len(rejected),
             "rejected": rejected, "cves": n_cves, "withdrawn": withdrawn,
             "tally_before": before,
             "tally_after": _footer_rows(silver_path)}
    stats["added"] = stats["tally_after"] - before
    if maintain:
        from .operators.compaction import compact_parquet
        stats["compaction"] = {
            "nvd": compact_parquet(spark, silver_path),
            "nvd_json": compact_parquet(spark, bronze_path),
        }
    return stats


def _check_bronze_layout(bronze_path: str) -> None:
    """Raise ValueError naming the path unless the published bronze
    version is partitioned by ``feed_year``, the one layout ingest
    writes; an earlier build's unpartitioned bronze is refused before
    anything is published, not converted. A driver-side listdir, plus
    one parquet footer when no ``feed_year=`` dir exists (a version
    whose every row was purged is one schema-only file that still
    carries the column), no Spark job."""
    cur = table_io.current_version(bronze_path)
    names = sorted(n for n in os.listdir(cur) if n[0] not in "_.") \
        if cur else []
    if not names or any(n.startswith("feed_year=") for n in names) or (
            names[0].endswith(".parquet") and "feed_year" in
            pq.read_schema(os.path.join(cur, names[0])).names):
        return
    raise ValueError(
        f"bronze table at {bronze_path} has no feed_year= partition "
        "dirs: an earlier layout, which ingest no longer reads; "
        "rebuild it from the landing feeds")


def purge_rejected(spark: SparkSession, warehouse: str) -> int:
    """Repair a warehouse that holds withdrawn CVEs — NVD marks them
    with a summary beginning ``** REJECT **``; the reference loads and
    keeps them forever (no delete path exists in its REPLACE-only
    loop, nvd2mysqlloader.py:448-486). ``run_ingest`` deletes a
    withdrawn record in the merge that brings it, so only a warehouse
    loaded by an earlier build (or written around ``run_ingest``) has
    any to find. The scan filters on ``summary``, not a partition
    column, so it reads all of silver; ``write_delete_parquet`` then
    removes the ids from silver (partition-selective on
    published_year) and bronze (partition-selective on feed_year — the
    CVE id's own year) with atomic snapshot publishes.
    Returns the number of CVEs purged. Idempotent: a second run finds
    nothing and publishes nothing."""
    from .operators._lineage import cut_lineage
    from .operators.upsert import write_delete_parquet

    silver_path = f"{warehouse}/nvd"
    if not os.path.exists(silver_path):
        return 0
    _check_bronze_layout(f"{warehouse}/nvd_json")
    # MATERIALIZE the id set before any delete: a lazy plan would
    # re-scan silver for the later pass and find nothing after the
    # first publish
    rejected = cut_lineage(
        spark.read.parquet(silver_path)
        .filter(F.col("summary").startswith(REJECT_PREFIX))
        .select("cve_id"))
    if rejected.isEmpty():
        return 0
    # bronze FIRST, silver second: the id set is derived from silver,
    # so a crash between the two publishes must leave silver intact —
    # the retry rediscovers the ids and finishes bronze+silver. The
    # reverse order would strand the withdrawn CVEs' raw JSON in
    # bronze forever (silver purged → nothing to rediscover).
    write_delete_parquet(f"{warehouse}/nvd_json", rejected, ["cve_id"],
                         partition_by=["feed_year"])
    return write_delete_parquet(silver_path, rejected, ["cve_id"],
                                partition_by=["published_year"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="NVD feed → parquet warehouse ingest")
    ap.add_argument("--landing", required=True, help="dir of feed .json + .meta files")
    ap.add_argument("--warehouse", required=True, help="output parquet warehouse dir")
    ap.add_argument("--maintain", action="store_true",
                    help="compact both warehouse tables after the load "
                         "where plan_compaction says it pays")
    ap.add_argument("--children-cpes", action="store_true",
                    help="extract depth-2 children CPEs the reference "
                         "drops (match-and-exceed; default is parity)")
    ap.add_argument("--purge-rejected", action="store_true",
                    help="after the load, scan all of silver for withdrawn "
                         "('** REJECT **') CVEs an earlier build loaded and "
                         "delete them from silver and bronze (the load "
                         "itself never keeps one)")
    args = ap.parse_args(argv)

    from .session import get_spark
    spark = get_spark("nvd_ingest")
    stats = run_ingest(spark, args.landing, args.warehouse,
                       maintain=args.maintain,
                       include_children_cpes=args.children_cpes)
    if args.purge_rejected:
        n_purged = purge_rejected(spark, args.warehouse)
        print(f"rejected CVEs purged: {n_purged}")
    print(f"feeds loaded: {stats['feeds']}  cves in batch: {stats['cves']}"
          f"  withdrawn: {stats['withdrawn']}")
    print(f"tally before: {stats['tally_before']}  after: {stats['tally_after']}"
          f"  added: {stats['added']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
