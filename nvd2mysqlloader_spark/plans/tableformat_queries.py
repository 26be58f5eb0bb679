"""Versioned-table change feed under the DuckDB oracle — the CDF
analog (operators/table_io.table_changes) exercised as a registered
query rather than only an ops surface: the query BUILDS a three-
version table with the engine's own MERGE and DELETE writers from
deterministic slices of ``orders``, reads the derived change feed
after each publish, and the per-phase change counts must hash-match
an oracle that recomputes them from the same slice definitions —
proving insert/update/delete attribution end-to-end through the
atomic-publish layout. The reference's loader only ever REPLACEs
(nvd2mysqlloader.py:206-244); a change feed is what its downstream
MySQL consumers would need to poll incrementally.

Registered after every other module: appends must never reshuffle
the harness's fixed-size registry prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tpch import load_table
from .registry import query


@query(
    "change_feed_counts",
    oracle="""
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 5 <> 0),
    delta AS (SELECT o_orderkey FROM orders),
    merged AS (
      SELECT 'merge' AS phase,
             CASE WHEN o_orderkey % 5 = 0 THEN 'insert' END AS ins,
             CASE WHEN o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0
                  THEN 'update' END AS upd
      FROM delta),
    m AS (
      SELECT phase, 'insert' AS change,
             CAST(count(ins) AS BIGINT) AS n_keys
      FROM merged GROUP BY phase
      UNION ALL
      SELECT phase, 'update', CAST(count(upd) AS BIGINT)
      FROM merged GROUP BY phase),
    d AS (
      SELECT 'delete' AS phase, 'delete' AS change,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM orders WHERE o_orderkey % 3 = 0)
    SELECT * FROM m UNION ALL SELECT * FROM d
    """,
    doc=(
        "derived change feed (CDF) attribution, end-to-end through "
        "the versioned table format: v1 = MERGE of the o_orderkey%5<>0 "
        "slice of orders, v2 = MERGE of ALL orders with %7==0 rows "
        "repriced (so the feed must report the %5==0 keys as inserts "
        "and exactly the repriced surviving keys as updates — "
        "unchanged re-upserted rows must NOT appear), v3 = keyed "
        "DELETE of %3==0 keys (reported as deletes). table_changes "
        "derives each feed from two version scans + three key-"
        "shuffles, no stored log and no driver diffing; the oracle "
        "recomputes every count from the slice definitions alone. "
        "At 100 TB the derivation cost is two scans of the touched "
        "versions — the price of a log-free format; Delta/Iceberg "
        "trade storage for avoiding it (a stored change log)."
    ),
)
def change_feed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..operators.table_io import table_changes
    from ..operators.upsert import write_delete_parquet, write_upsert_parquet

    root = tempfile.mkdtemp(prefix="change_feed_")
    atexit.register(shutil.rmtree, root, True)
    tbl = f"{root}/orders_versioned"

    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    write_upsert_parquet(tbl, base, ["o_orderkey"])              # v1

    # delta re-upserts EVERYTHING: %5==0 keys are new (inserts),
    # %7==0 survivors get a real value change (updates), the rest
    # are byte-identical re-writes the feed must not report
    delta = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0,
               F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")))
    write_upsert_parquet(tbl, delta, ["o_orderkey"])             # v2
    feed_merge = (table_changes(spark, tbl, ["o_orderkey"])
                  .groupBy("change")
                  .agg(F.count(F.lit(1)).alias("n_keys"))
                  .select(F.lit("merge").alias("phase"), "change",
                          "n_keys"))
    merge_rows = feed_merge.collect()          # pin BEFORE v3 exists

    dels = orders.filter(F.col("o_orderkey") % 3 == 0) \
                 .select("o_orderkey")
    write_delete_parquet(tbl, dels, ["o_orderkey"])              # v3
    feed_del = (table_changes(spark, tbl, ["o_orderkey"])
                .groupBy("change")
                .agg(F.count(F.lit(1)).alias("n_keys"))
                .select(F.lit("delete").alias("phase"), "change",
                        "n_keys"))
    return (spark.createDataFrame(merge_rows, feed_merge.schema)
            .unionByName(feed_del))
