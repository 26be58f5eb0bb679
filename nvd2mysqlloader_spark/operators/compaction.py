"""Small-file compaction — table maintenance for the parquet warehouse.

The ingest pipeline (like any streaming/micro-batch writer) accretes
many small files per table over time; at 100 TB small files are a
first-order performance problem (footer/open overhead per file, tiny
row groups defeat the vectorized reader and min/max skipping, driver
memory for file listings). The reference has no notion of this — its
"storage" is MySQL — so this is engine-side operational surface, the
parquet analog of OPTIMIZE/rewrite_data_files.

Spark-first shape: one distributed read → ``repartition(n)`` sized so
output files land near ``target_bytes`` → atomic publish of a fresh
version directory (``operators.table_io``). The rewrite is a single
narrow+shuffle job regardless of input file count; partitioned tables
compact per partition directory so partition pruning is untouched.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


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


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _value_round_trips(v: str) -> bool:
    """True iff a ``col=v`` dir value survives Spark partition type
    inference and a ``partitionBy`` rewrite byte-identically.

    Canonical integers round-trip (inference reads them as int/long
    and the writer renders the same digits). Anything inference could
    coerce — zero-padded or ``-0`` integers (``month=07`` reads as 7,
    re-renders ``month=7``), float/decimal-looking values
    (``x=1.50`` → ``x=1.5``), date/timestamp-looking values, the Hive
    null sentinel — may re-render differently (or merge with a
    colliding canonical dir), so the one-job fast path must not touch
    them: the per-dir rewrite loop never re-renders dir names.
    """
    if v == _HIVE_NULL:
        return False
    # dir names hold the HIVE-ESCAPED form: '%' marks an escape
    # (lang=a%3Ab stores column value 'a:b'), so any '%' value would
    # be compared raw against the unescaped column (filter matches
    # nothing → the dir silently drops from the rewrite) and
    # re-rendered on write. Empty values re-render as the null
    # sentinel. Both must take the per-dir loop.
    if v == "" or "%" in v:
        return False
    try:
        return str(int(v)) == v
    except ValueError:
        pass
    try:
        float(v)
        return False
    except ValueError:
        pass
    # date/timestamp inference canonicalizes e.g. 2021-1-1 -> 2021-01-01
    head = v.split(" ", 1)[0].split("T", 1)[0]
    parts = head.split("-")
    if 2 <= len(parts) <= 3 and all(p.isdigit() for p in parts if p):
        return False
    return True


def _rewrite_into(spark: SparkSession, src: str, dst: str,
                  n_target: int, sort_by: list[str] | None) -> None:
    df = spark.read.parquet(src)
    if sort_by:
        # repartitionByRange, not hash: range partitioning gives each
        # output file a DISJOINT sort-key interval, so file-level
        # min/max stats actually prune (hash would spread every key
        # range across all files and skip nothing), and a heavy-hitter
        # sort value is bounded by its range slice instead of hashing
        # its entire volume into one oversized file
        df = df.repartitionByRange(n_target, *sort_by) \
               .sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_target)
    df.write.mode("overwrite").parquet(dst)


def compact_parquet(spark: SparkSession, path: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    sort_by: list[str] | None = None,
                    force: bool = False) -> dict:
    """Rewrite ``path`` into ~``target_bytes`` files; atomic publish.

    Uses the versioned layout of ``operators.table_io``: the compacted
    data is written to a fresh version directory and published with an
    atomic pointer flip — readers see the old or the new file set,
    never a mix and never a missing table, and a crashed run leaves
    the current version untouched (its debris is cleaned on the next
    attempt). Partitions whose ``plan_compaction`` says the rewrite is
    not ``worth_it`` are carried into the new version as hardlinks
    (no data read or written); an unpartitioned table that isn't
    worth compacting is skipped entirely unless ``force``.

    ``sort_by``: optional columns to ``sortWithinPartitions`` during the
    rewrite — restores min/max-stat locality (the cheap cousin of the
    Z-order layout in ``plans.curation_queries.zorder_locality``) so
    range predicates skip row groups again after many unordered
    appends.

    Hive-partitioned tables (``col=val`` subdirectories) preserve the
    layout — and partition pruning — either way: when EVERY partition
    needs compaction and fits one target file (micro-append
    accretion), all dirs rewrite in ONE Spark job (repartition by the
    partition columns + partitionBy write — never one driver-side job
    per directory, which is the real bottleneck on many-partition
    tables); otherwise each partition rewrites independently (at
    scale: trivially parallel and restartable per partition) and
    not-worth-it partitions carry over as hardlinks.
    """
    from . import table_io

    path = path.rstrip("/")
    table_io.ensure_versioned(path)
    table_io.cleanup_stale(path)
    cur = table_io.current_version(path)
    if cur is None:
        raise ValueError(f"no table at {path}")
    vdir = table_io.next_version_dir(path)
    stats = compact_into(spark, cur, vdir, target_bytes, sort_by, force)
    if not stats.get("skipped"):
        table_io.publish_version(path, vdir)
    return stats


def compact_into(spark: SparkSession, src: str, dst: str,
                 target_bytes: int = 128 * 1024 * 1024,
                 sort_by: list[str] | None = None,
                 force: bool = False) -> dict:
    """The rewrite behind :func:`compact_parquet`: compact the table
    directory ``src`` into the fresh directory ``dst`` (not-worth-it
    partitions hardlinked) and return its stats; writes nothing and
    returns ``skipped`` when no rewrite is worth it and not ``force``.
    Publishing ``dst`` is the caller's."""
    from . import table_io

    # leaf partition dirs handle any partitioning depth (year=/month=…)
    part_dirs = table_io.leaf_partition_dirs(src)
    if part_dirs:
        plans = {d: plan_compaction(os.path.join(src, d), target_bytes)
                 for d in part_dirs}
        if not force and not any(p["worth_it"] for p in plans.values()):
            total = sum(p["total_bytes"] for p in plans.values())
            n = sum(p["n_files"] for p in plans.values())
            return {"before_files": n, "after_files": n, "bytes": total,
                    "partitions": len(part_dirs), "skipped": True}
        # ONE-JOB fast path: when every partition that NEEDS
        # compaction fits a single target file (the micro-append
        # accretion shape — thousands of dirs, each a pile of tiny
        # files), a per-dir rewrite loop launches one driver-side
        # Spark job PER DIRECTORY (a 10k-partition table = 10k
        # sequential jobs, the real bottleneck at scale: measured
        # 128 jobs / ~45 s for a 64-dir x 2-subtable signature table
        # locally). Instead read the worth-it dirs once, co-locate
        # each dir's rows in one task (repartition by the partition
        # columns), and write them all in a single partitionBy job —
        # one shuffle, one job, one file per dir; healthy dirs carry
        # over as hardlinks as in the per-dir path. Taken only when
        # every dir value round-trips through partition inference
        # (see _value_round_trips) — and, when a partition FILTER is
        # needed, only for single-level layouts; anything else falls
        # back to the per-dir loop.
        worth = [d for d in part_dirs
                 if plans[d]["worth_it"] or force]
        small = [d for d in worth
                 if plans[d]["total_bytes"] <= target_bytes]
        part_cols = [c.split("=", 1)[0]
                     for c in part_dirs[0].split(os.sep)]
        vals = [d.split("=", 1)[1] for d in small]
        # EVERY dir value in EVERY level must round-trip through
        # partition inference — not just the filtered ones: a single
        # non-canonical value (month=07) either vanishes under the
        # cast('string') filter (inference reads 7, "7" ∉ {"07"} —
        # silent data loss) or is re-rendered/merged by the
        # partitionBy writer. Non-round-tripping layouts take the
        # per-dir loop, which never re-renders dir names.
        safe = all(_value_round_trips(c.split("=", 1)[1])
                   for d in part_dirs for c in d.split(os.sep))
        filter_ok = (len(small) == len(part_dirs)
                     or len(part_cols) == 1)
        if worth and small == worth and safe and filter_ok:
            from pyspark.sql import functions as F
            df = spark.read.parquet(src)
            if len(small) < len(part_dirs):
                df = df.filter(
                    F.col(part_cols[0]).cast("string").isin(vals))
            df = df.repartition(*[F.col(c) for c in part_cols])
            if sort_by:
                # partition cols FIRST: the partitionBy writer
                # requires ordering on them and would otherwise
                # insert its own sort, voiding sort_by's within-file
                # min/max locality
                df = df.sortWithinPartitions(*part_cols, *sort_by)
            df.write.partitionBy(*part_cols).mode("overwrite") \
                .parquet(dst)
            small_set = set(small)
            for d in part_dirs:
                if d not in small_set:
                    table_io.link_tree(os.path.join(src, d),
                                       os.path.join(dst, d))
            before = sum(p["n_files"] for p in plans.values())
            after = total = 0
            for d in table_io.leaf_partition_dirs(dst):
                p_after = plan_compaction(os.path.join(dst, d),
                                          target_bytes)
                after += p_after["n_files"]
                total += p_after["total_bytes"]
            return {"before_files": before, "after_files": after,
                    "bytes": total, "partitions": len(part_dirs)}
        before = after = total = 0
        for d in part_dirs:
            plan = plans[d]
            before += plan["n_files"]
            if plan["worth_it"] or force:
                _rewrite_into(spark, os.path.join(src, d),
                              os.path.join(dst, d),
                              plan["n_target"], sort_by)
            else:
                table_io.link_tree(os.path.join(src, d),
                                   os.path.join(dst, d))
            p_after = plan_compaction(os.path.join(dst, d), target_bytes)
            after += p_after["n_files"]
            total += p_after["total_bytes"]
        return {"before_files": before, "after_files": after,
                "bytes": total, "partitions": len(part_dirs)}

    plan = plan_compaction(src, target_bytes)
    if not plan["worth_it"] and not force:
        return {"before_files": plan["n_files"],
                "after_files": plan["n_files"],
                "bytes": plan["total_bytes"], "skipped": True}
    _rewrite_into(spark, src, dst, plan["n_target"], sort_by)
    after = plan_compaction(dst, target_bytes)
    return {"before_files": plan["n_files"], "after_files": after["n_files"],
            "bytes": after["total_bytes"]}
