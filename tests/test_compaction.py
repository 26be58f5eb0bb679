"""Small-file compaction: fewer files, identical data, stats restored."""

from __future__ import annotations

from pyspark.sql import functions as F

from nvd2mysqlloader_spark.operators.compaction import (
    compact_parquet, list_data_files, plan_compaction)


def _content_hash(df):
    return (df.select(F.md5(F.concat_ws("|", *sorted(df.columns)))
                      .alias("h"))
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)
                       .cast("decimal(38,0)")).alias("s"))
            .first().s)


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "tbl")
    # simulate micro-batch accretion: 40 tiny appends
    for i in range(40):
        (spark.range(i * 100, (i + 1) * 100)
         .selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS payload")
         .coalesce(1).write.mode("append").parquet(path))
    before = plan_compaction(path, target_bytes=1 * 1024 * 1024)
    assert before["n_files"] == 40 and before["worth_it"]
    pre_rows = spark.read.parquet(path).count()
    pre_hash = _content_hash(spark.read.parquet(path))

    stats = compact_parquet(spark, path, target_bytes=1 * 1024 * 1024,
                            sort_by=["id"])
    assert stats["after_files"] < stats["before_files"]
    assert len(list_data_files(path)) == stats["after_files"]

    post = spark.read.parquet(path)
    assert post.count() == pre_rows == 4000
    assert _content_hash(post) == pre_hash      # order-insensitive identity
    assert not plan_compaction(path, 1024 * 1024)["worth_it"]


def test_partitioned_compaction_preserves_layout(spark, tmp_path):
    path = str(tmp_path / "ptbl")
    for i in range(12):
        (spark.range(i * 50, (i + 1) * 50)
         .selectExpr("id", "CAST(id % 3 AS INT) AS year")
         .coalesce(1).write.mode("append")
         .partitionBy("year").parquet(path))
    import glob
    import os
    assert len(glob.glob(f"{path}/year=*/")) == 3
    pre = spark.read.parquet(path)
    pre_rows, pre_sum = pre.count(), pre.agg(F.sum("id")).first()[0]
    pre_y1 = pre.filter(F.col("year") == 1).count()

    stats = compact_parquet(spark, path, target_bytes=1024 * 1024)
    assert stats["partitions"] == 3
    assert stats["after_files"] < stats["before_files"]
    # layout intact: same partition dirs, pruning still applies
    assert sorted(os.path.basename(p.rstrip("/"))
                  for p in glob.glob(f"{path}/year=*/")) == \
        ["year=0", "year=1", "year=2"]
    post = spark.read.parquet(path)
    assert post.count() == pre_rows
    assert post.agg(F.sum("id")).first()[0] == pre_sum
    assert post.filter(F.col("year") == 1).count() == pre_y1


def test_compaction_skipped_when_not_worth_it(spark, tmp_path):
    """A table already at target file sizes is not rewritten (the plan
    says not worth_it) — no new version published, files untouched."""
    import os
    path = str(tmp_path / "fine")
    (spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS p")
     .coalesce(1).write.parquet(path))
    before = {p: os.path.getmtime(p) for p, _ in list_data_files(path)}
    stats = compact_parquet(spark, path, target_bytes=128 * 1024 * 1024)
    assert stats.get("skipped") is True
    assert stats["before_files"] == stats["after_files"]
    assert {p: os.path.getmtime(p) for p, _ in list_data_files(path)} == before


def test_compaction_recovers_from_stale_debris(spark, tmp_path):
    """Leftover unpublished version dirs / swap links from a crashed
    run are cleaned on the next attempt instead of failing it."""
    import os

    from nvd2mysqlloader_spark.operators import table_io
    path = str(tmp_path / "debris")
    for i in range(10):
        (spark.range(i * 10, (i + 1) * 10).selectExpr("id")
         .coalesce(1).write.mode("append").parquet(path))
    # simulate a crashed prior run: migrate + fabricate an unpublished
    # newer version dir and a dangling swap symlink
    table_io.ensure_versioned(path)
    stale = table_io.next_version_dir(path)
    os.makedirs(stale)
    with open(os.path.join(stale, "part-garbage.parquet"), "w") as fh:
        fh.write("junk")
    os.symlink("nowhere", path + ".__swap")
    # crash debris is old by the time anyone cleans; the sweep
    # age-gates (60s) so it can't race a LIVE publisher's staging link
    old_t = 1_000_000_000
    os.utime(path + ".__swap", (old_t, old_t), follow_symlinks=False)

    stats = compact_parquet(spark, path, target_bytes=1024 * 1024)
    assert stats["after_files"] < stats["before_files"]
    # the fabricated junk never leaks into the published table (the
    # stale dir was removed; its NAME may be reused by the new version)
    assert not os.path.exists(os.path.join(stale, "part-garbage.parquet"))
    assert not os.path.lexists(path + ".__swap")
    assert spark.read.parquet(path).count() == 100


def test_partitioned_compaction_links_not_worth_it_partitions(spark,
                                                              tmp_path):
    """Mixed table: fragmented partitions are rewritten, healthy ones
    are carried into the new version as hardlinks (same inodes)."""
    import glob
    import os
    path = str(tmp_path / "mixed")
    # year=0: one healthy file; year=1: 20 fragments
    (spark.range(1000).selectExpr("id", "CAST(0 AS INT) AS year")
     .coalesce(1).write.partitionBy("year").parquet(path))
    for i in range(20):
        (spark.range(i * 10, (i + 1) * 10)
         .selectExpr("id", "CAST(1 AS INT) AS year")
         .coalesce(1).write.mode("append").partitionBy("year").parquet(path))
    healthy_inodes = {os.stat(p).st_ino
                      for p in glob.glob(f"{path}/year=0/*.parquet")}
    n_frag = len(glob.glob(f"{path}/year=1/*.parquet"))
    assert n_frag == 20

    stats = compact_parquet(spark, path, target_bytes=1024 * 1024)
    assert stats["partitions"] == 2
    # healthy partition: same inodes (hardlinked, not rewritten)
    assert {os.stat(p).st_ino
            for p in glob.glob(f"{path}/year=0/*.parquet")} == healthy_inodes
    # fragmented partition: fewer files now
    assert len(glob.glob(f"{path}/year=1/*.parquet")) < n_frag
    post = spark.read.parquet(path)
    assert post.count() == 1000 + 200


def test_multilevel_partitioned_compaction(spark, tmp_path):
    """year=/month= nesting: leaf partitions compact independently,
    the nested layout (and pruning) survives, data identical
    (regression — one-level listing used to flatten the hierarchy)."""
    import glob
    path = str(tmp_path / "nested")
    for i in range(10):
        (spark.range(i * 20, (i + 1) * 20)
         .selectExpr("id", "CAST(id % 2 AS INT) AS year",
                     "CAST(id % 3 AS INT) AS month")
         .coalesce(1).write.mode("append")
         .partitionBy("year", "month").parquet(path))
    pre = spark.read.parquet(path)
    # materialize BEFORE compaction: a symlink-listed DataFrame is
    # only valid until the next publish (see table_io.read_version)
    pre_rows, pre_sum = pre.count(), pre.agg(F.sum("id")).first()[0]
    pre_y1m2 = pre.filter("year = 1 AND month = 2").count()
    n_leaves = len(glob.glob(f"{path}/year=*/month=*/"))
    assert n_leaves == 6

    stats = compact_parquet(spark, path, target_bytes=1024 * 1024)
    assert stats["partitions"] == 6
    assert stats["after_files"] < stats["before_files"]
    assert len(glob.glob(f"{path}/year=*/month=*/")) == 6
    post = spark.read.parquet(path)
    assert post.count() == pre_rows
    assert post.agg(F.sum("id")).first()[0] == pre_sum
    assert post.filter("year = 1 AND month = 2").count() == pre_y1m2


def test_mixed_string_partitioned_compaction_falls_back(spark, tmp_path):
    """A mixed STRING-partitioned table takes the same one-job rewrite
    as an int-partitioned one: healthy partition hardlinked,
    fragmented partition rewritten, relation unchanged. (The name is
    from when non-int tables fell back to a per-dir loop.)"""
    import glob
    import os
    path = str(tmp_path / "strmixed")
    (spark.range(500).selectExpr("id", "'aa' AS grp")
     .coalesce(1).write.partitionBy("grp").parquet(path))
    for i in range(12):
        (spark.range(i * 10, (i + 1) * 10)
         .selectExpr("id", "'bb' AS grp")
         .coalesce(1).write.mode("append").partitionBy("grp")
         .parquet(path))
    healthy = {os.stat(p).st_ino
               for p in glob.glob(f"{path}/grp=aa/*.parquet")}
    n_frag = len(glob.glob(f"{path}/grp=bb/*.parquet"))
    assert n_frag == 12

    stats = compact_parquet(spark, path, target_bytes=1024 * 1024)
    assert stats["partitions"] == 2
    assert stats["after_files"] < stats["before_files"]
    assert {os.stat(p).st_ino
            for p in glob.glob(f"{path}/grp=aa/*.parquet")} == healthy
    assert len(glob.glob(f"{path}/grp=bb/*.parquet")) < n_frag
    post = spark.read.parquet(path)
    assert post.count() == 500 + 120
    assert post.filter(F.col("grp") == "bb").count() == 120


def test_leading_zero_int_partition_falls_back_no_data_loss(spark, tmp_path):
    """Zero-padded integer dir values (``month=07``, common in
    externally-written Hive layouts): partition inference would read
    ``07`` as 7 and a partitionBy write would re-render the dir as
    ``month=7``. The rewrite reads partition values as strings, so it
    keeps the rows AND the exact dir names."""
    import glob
    import os
    path = str(tmp_path / "zeropad")
    os.makedirs(path)
    # write non-canonical dirs by hand (Spark itself always renders
    # canonically, so build the layout the way an external writer would)
    for val, lo, hi, nfiles in [("07", 0, 120, 12), ("11", 200, 700, 1)]:
        d = os.path.join(path, f"month={val}")
        step = (hi - lo) // nfiles
        for i in range(nfiles):
            (spark.range(lo + i * step, lo + (i + 1) * step)
             .coalesce(1).write.mode("append").parquet(d))
    pre = spark.read.parquet(path)
    pre_rows, pre_sum = pre.count(), pre.agg(F.sum("id")).first()[0]

    stats = compact_parquet(spark, path, target_bytes=1024 * 1024)
    assert stats["partitions"] == 2
    assert stats["after_files"] < stats["before_files"]
    # exact dir names preserved — no month=7 canonicalization, no merge
    dirs = sorted(os.path.basename(p.rstrip("/"))
                  for p in glob.glob(f"{path}/month=*/"))
    assert dirs == ["month=07", "month=11"]
    post = spark.read.parquet(path)
    assert post.count() == pre_rows
    assert post.agg(F.sum("id")).first()[0] == pre_sum


def test_colliding_noncanonical_dirs_preserved(spark, tmp_path):
    """``month=7`` and ``month=07`` in one table: inference maps both
    to 7, so a rewrite that inferred partition types would merge them.
    Read as strings they stay two values: both dirs distinct with
    their own rows."""
    import glob
    import os
    path = str(tmp_path / "collide")
    os.makedirs(path)
    for val, lo, hi, nfiles in [("7", 0, 100, 10), ("07", 1000, 1100, 10)]:
        d = os.path.join(path, f"month={val}")
        step = (hi - lo) // nfiles
        for i in range(nfiles):
            (spark.range(lo + i * step, lo + (i + 1) * step)
             .coalesce(1).write.mode("append").parquet(d))

    compact_parquet(spark, path, target_bytes=1024 * 1024)
    dirs = sorted(os.path.basename(p.rstrip("/"))
                  for p in glob.glob(f"{path}/month=*/"))
    assert dirs == ["month=07", "month=7"]
    assert spark.read.parquet(f"{path}/month=07").count() == 100
    assert spark.read.parquet(f"{path}/month=7").count() == 100


def test_escaped_string_partition_falls_back_no_data_loss(spark,
                                                          tmp_path):
    """Hive-escaped partition values (dir lang=a%3Ab stores column
    value 'a:b'): the string read unescapes the value and the writer
    escapes it back, so rows and exact dir names are preserved."""
    import glob
    import os
    path = str(tmp_path / "escaped")
    (spark.range(10).selectExpr("id", "'a:b' AS lang")
     .coalesce(1).write.partitionBy("lang").parquet(path))
    for i in range(8):
        (spark.range(100 + i * 10, 110 + i * 10)
         .selectExpr("id", "'plain' AS lang")
         .coalesce(1).write.mode("append").partitionBy("lang")
         .parquet(path))
    pre = spark.read.parquet(path)
    pre_rows, pre_sum = pre.count(), pre.agg(F.sum("id")).first()[0]
    assert os.path.isdir(f"{path}/lang=a%3Ab")

    compact_parquet(spark, path, target_bytes=1024 * 1024)
    dirs = sorted(os.path.basename(p.rstrip("/"))
                  for p in glob.glob(f"{path}/lang=*/"))
    assert dirs == ["lang=a%3Ab", "lang=plain"]
    post = spark.read.parquet(path)
    assert post.count() == pre_rows
    assert post.agg(F.sum("id")).first()[0] == pre_sum
    assert post.filter(F.col("lang") == "a:b").count() == 10


def _hand_layout(root, dirs, files_per_dir=6, rows_per_file=50):
    """A table whose leaf dirs are named by hand, as an external writer
    names them (Spark itself renders canonical names): ``files_per_dir``
    pyarrow-written files of distinct ids per dir, so building it runs
    no Spark job. Returns {dir: rows}."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    rows, nxt = {}, 0
    for d in dirs:
        os.makedirs(os.path.join(root, d))
        n = files_per_dir if isinstance(files_per_dir, int) \
            else files_per_dir[d]
        for i in range(n):
            pq.write_table(pa.table({"id": pa.array(
                range(nxt, nxt + rows_per_file), pa.int64())}),
                os.path.join(root, d, f"part-{i:05d}.parquet"))
            nxt += rows_per_file
        rows[d] = n * rows_per_file
    return rows


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` ran, counted from the status store after the
    listener bus drains."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_partitioned_compaction_jobs_independent_of_layout(spark,
                                                           tmp_path):
    """Every partition layout compacts in the same number of Spark
    jobs, none per dir: colliding zero-padded and Hive-null dirs, an
    escaped string dir, a canonical int table, and a canonical table
    with only half its dirs worth rewriting. Each keeps its exact dir
    names and row counts."""
    import os

    import pyarrow.parquet as pq

    from nvd2mysqlloader_spark.operators.table_io import \
        leaf_partition_dirs
    layouts = {
        "padded": (["m=01", "m=1", "m=02", "m=__HIVE_DEFAULT_PARTITION__"],
                   6),
        "escaped": (["m=a%3Ab", "m=aa", "m=bb", "m=cc"], 6),
        "canonical": (["m=1", "m=2", "m=3", "m=4"], 6),
        "half": (["m=1", "m=2", "m=3", "m=4"],
                 {"m=1": 6, "m=2": 6, "m=3": 1, "m=4": 1}),
    }
    jobs = {}
    for name, (dirs, nfiles) in layouts.items():
        path = str(tmp_path / name)
        want = _hand_layout(path, dirs, nfiles)
        stats = {}
        jobs[name] = _jobs(spark, f"compact_{name}", lambda: stats.update(
            compact_parquet(spark, path, target_bytes=1024 * 1024)))
        assert stats["partitions"] == 4 and "skipped" not in stats
        got = {d: sum(pq.read_metadata(f).num_rows
                      for f, _ in list_data_files(os.path.join(path, d)))
               for d in dirs}
        assert got == want, name
        assert leaf_partition_dirs(os.path.realpath(path)) == \
            sorted(dirs), name
        assert stats["after_files"] == 4, name
    assert jobs["padded"] == jobs["escaped"] == jobs["canonical"] \
        == jobs["half"], jobs
    # the string read: the Hive null dir is a null value, "01" != "1"
    post = spark.read.schema("id BIGINT, m STRING").parquet(
        str(tmp_path / "padded"))
    assert post.filter("m IS NULL").count() == 300
    assert post.filter("m = '01'").count() == 300


def test_oversized_partition_splits_into_sorted_ranges(spark, tmp_path):
    """A fragmented dir of about 3x the target, compacted with
    ``sort_by``, is split in the same single rewrite into files with
    disjoint sort-key ranges, and is no longer worth compacting."""
    import os

    import pyarrow.parquet as pq
    path = str(tmp_path / "big")
    # ids interleaved across the files, so the rewrite must sort them;
    # the hash payload keeps bytes per row alike before and after
    for i in range(12):
        (spark.range(0, 12_000).filter(F.col("id") % 12 == i)
         .selectExpr("id", "sha2(CAST(id AS STRING), 256) AS payload",
                     "CAST(0 AS INT) AS p")
         .coalesce(1).write.mode("append").partitionBy("p").parquet(path))
    leaf = os.path.join(path, "p=0")
    total = sum(s for _, s in list_data_files(leaf))
    target = total // 3
    assert plan_compaction(leaf, target)["worth_it"]

    n_jobs = _jobs(spark, "compact_split", lambda: compact_parquet(
        spark, path, target_bytes=target, sort_by=["id"]))
    files = list_data_files(os.path.join(path, "p=0"))
    assert 2 <= len(files) <= 6, files
    ranges = sorted((min(ids), max(ids)) for ids in (
        pq.read_table(f, columns=["id"])["id"].to_pylist()
        for f, _ in files))
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
    assert spark.read.parquet(path).count() == 12_000
    assert not plan_compaction(os.path.join(path, "p=0"), target)["worth_it"]

    canonical = str(tmp_path / "small")
    _hand_layout(canonical, ["p=1", "p=2"])
    assert n_jobs == _jobs(spark, "compact_small", lambda: compact_parquet(
        spark, canonical, target_bytes=1024 * 1024, sort_by=["id"]))
