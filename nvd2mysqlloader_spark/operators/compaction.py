"""Small-file compaction — table maintenance for the parquet warehouse.

The ingest pipeline (like any streaming/micro-batch writer) accretes
many small files per table over time; at 100 TB small files are a
first-order performance problem (footer/open overhead per file, tiny
row groups defeat the vectorized reader and min/max skipping, driver
memory for file listings). The reference has no notion of this — its
"storage" is MySQL — so this is engine-side operational surface, the
parquet analog of OPTIMIZE/rewrite_data_files.

Spark-first shape: one distributed read → a shuffle that sizes the
output files near ``target_bytes`` → atomic publish of a fresh
version directory (``operators.table_io``). The rewrite is one write
job whatever the input file count, and for a partitioned table
whatever the number or naming of its partition dirs: the small-file
dirs are read with their partition columns as strings and rewritten
under their own names, the rest are hardlinked, so partition pruning
is untouched.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from . import table_io


def list_data_files(path: str) -> list[tuple[str, int]]:
    """(file, bytes) for every parquet data file under ``path``."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("_"):
                p = os.path.join(root, f)
                out.append((p, os.path.getsize(p)))
    return sorted(out)


def plan_compaction(path: str, target_bytes: int = 128 * 1024 * 1024,
                    small_ratio: float = 0.5) -> dict:
    """Decide whether ``path`` needs compaction.

    Returns {n_files, total_bytes, n_small, n_target}: a table wants
    compaction when more than half its files are under
    ``small_ratio * target_bytes`` and the rewrite would reduce the
    file count. Pure metadata — no data read.
    """
    files = list_data_files(path)
    total = sum(s for _, s in files)
    n_target = max(1, math.ceil(total / target_bytes))
    n_small = sum(1 for _, s in files if s < small_ratio * target_bytes)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "n_small": n_small,
        "n_target": n_target,
        "worth_it": len(files) > n_target and n_small > len(files) // 2,
    }


def compact_parquet(spark: SparkSession, path: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    sort_by: list[str] | None = None) -> dict:
    """Rewrite ``path`` into ~``target_bytes`` files; atomic publish.

    Uses the versioned layout of ``operators.table_io``: the compacted
    data is written to a fresh version directory and published with an
    atomic pointer flip — readers see the old or the new file set,
    never a mix and never a missing table, and a crashed run leaves
    the current version untouched (its debris is cleaned on the next
    attempt). A table, or every partition dir of one, whose
    ``plan_compaction`` says the rewrite is not ``worth_it`` is
    skipped: nothing is read, written or published.

    ``sort_by``: optional columns to ``sortWithinPartitions`` during the
    rewrite — restores min/max-stat locality (the cheap cousin of the
    Z-order layout in ``plans.curation_queries.zorder_locality``) so
    range predicates skip row groups again after many unordered
    appends.

    Hive-partitioned tables (``col=val`` leaf dirs, any depth) rewrite
    every worth-it dir in ONE write job whatever their number or
    naming (see :func:`_rewrite_partitions`); the other leaf dirs are
    carried into the new version as hardlinks (``table_io.carry_over``),
    so partition pruning and every dir name are untouched.
    """
    path = path.rstrip("/")
    table_io.ensure_versioned(path)
    table_io.cleanup_stale(path)
    cur = table_io.current_version(path)
    if cur is None:
        raise ValueError(f"no table at {path}")
    part_dirs = table_io.leaf_partition_dirs(cur)
    plans = {d: plan_compaction(os.path.join(cur, d), target_bytes)
             for d in part_dirs or ["."]}
    stats = {"before_files": sum(p["n_files"] for p in plans.values())}
    if part_dirs:
        stats["partitions"] = len(part_dirs)
    worth = {d: p for d, p in plans.items() if p["worth_it"]}
    if not worth:
        return {**stats, "after_files": stats["before_files"],
                "bytes": sum(p["total_bytes"] for p in plans.values()),
                "skipped": True}
    vdir = table_io.next_version_dir(path)
    if part_dirs:
        _rewrite_partitions(spark, cur, vdir, worth, target_bytes, sort_by)
    else:
        df = spark.read.parquet(cur)
        n_target = plans["."]["n_target"]
        if sort_by:
            # repartitionByRange, not hash: range partitioning gives
            # each output file a DISJOINT sort-key interval, so
            # file-level min/max stats actually prune (hash would
            # spread every key range across all files and skip
            # nothing), and a heavy-hitter sort value is bounded by its
            # range slice instead of hashing its entire volume into one
            # oversized file
            df = df.repartitionByRange(n_target, *sort_by) \
                   .sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(n_target)
        df.write.mode("overwrite").parquet(vdir)
    after = list_data_files(vdir)
    table_io.publish_version(path, vdir)
    return {**stats, "after_files": len(after),
            "bytes": sum(s for _, s in after)}


def _rewrite_partitions(spark: SparkSession, cur: str, vdir: str,
                        worth: dict[str, dict], target_bytes: int,
                        sort_by: list[str] | None) -> None:
    """Write the ``worth`` leaf dirs of the version ``cur`` (dir →
    ``plan_compaction``) into the staged ``vdir`` in one job and carry
    every other leaf dir in.

    The dirs are read by explicit path under ``basePath``, with the
    data columns of one file's footer and every partition column typed
    STRING: Spark then infers no partition type, so no dir value is
    parsed (``month=07`` stays "07" beside a "7", ``a%3Ab`` unescapes
    to "a:b", the Hive null dir reads null) and the ``partitionBy``
    write renders each dir's own name back. Each dir's rows are
    co-located in one task, so a dir comes back as one file, or — past
    ``target_bytes`` — as ``maxRecordsPerFile`` splits sized from the
    dirs' bytes per row (footer row counts, no job). With ``sort_by``
    the splits hold disjoint sort-key ranges. Past Spark's
    ``parallelPartitionDiscovery.threshold`` paths the read lists them
    in one more job; the count never grows per dir."""
    part_cols = [c.split("=", 1)[0] for c in next(iter(worth)).split(os.sep)]
    files = [f for d in worth
             for f, _ in list_data_files(os.path.join(cur, d))]
    data = spark.read.parquet(files[0]).schema
    schema = T.StructType(
        [f for f in data.fields if f.name not in part_cols]
        + [T.StructField(c, T.StringType()) for c in part_cols])
    df = (spark.read.schema(schema).option("basePath", cur)
          .parquet(*[os.path.join(cur, d) for d in worth])
          .repartition(*part_cols))
    if sort_by:
        # partition cols FIRST: the partitionBy writer requires
        # ordering on them and would otherwise insert its own sort,
        # voiding sort_by's within-file min/max locality
        df = df.sortWithinPartitions(*part_cols, *sort_by)
    w = df.write
    sizes = [p["total_bytes"] for p in worth.values()]
    if max(sizes) > target_bytes:
        w = w.option("maxRecordsPerFile", max(
            1, target_bytes * table_io.footer_rows(files) // sum(sizes)))
    w.partitionBy(*part_cols).mode("overwrite").parquet(vdir)
    table_io.carry_over(cur, vdir, set(worth))
