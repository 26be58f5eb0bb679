"""Partition-selective upsert: only partitions named by the update
batch are read or rewritten; untouched partition files stay untouched
on disk (inode-identical), and merge semantics are unchanged."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from nvd2mysqlloader_spark.operators.upsert import write_upsert_parquet


def _files(path: str, part: str) -> dict[str, float]:
    return {p: os.path.getmtime(p)
            for p in glob.glob(f"{path}/{part}/*.parquet")}


def test_selective_upsert_leaves_other_partitions_untouched(spark, tmp_path):
    path = str(tmp_path / "nvd")
    base = spark.createDataFrame(
        [("CVE-2020-1", 2020, "a"), ("CVE-2020-2", 2020, "b"),
         ("CVE-2021-1", 2021, "c")],
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])
    before_2020 = _files(path, "published_year=2020")
    before_2021 = _files(path, "published_year=2021")
    assert before_2020 and before_2021

    # update batch touches ONLY 2021
    upd = spark.createDataFrame(
        [("CVE-2021-1", 2021, "c2"), ("CVE-2021-9", 2021, "new")],
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, upd, ["cve_id"],
                         partition_by=["published_year"])

    # 2020 partition byte-identical (same files, same mtimes)
    assert _files(path, "published_year=2020") == before_2020
    # 2021 rewritten
    assert _files(path, "published_year=2021") != before_2021

    got = {r.cve_id: r.summary
           for r in spark.read.parquet(path).collect()}
    assert got == {"CVE-2020-1": "a", "CVE-2020-2": "b",
                   "CVE-2021-1": "c2", "CVE-2021-9": "new"}


def test_selective_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "nvd2")
    rows = [("CVE-2022-1", 2022, "x"), ("CVE-2023-1", 2023, "y")]
    df = spark.createDataFrame(
        rows, ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, df, ["cve_id"],
                         partition_by=["published_year"])
    write_upsert_parquet(path, df, ["cve_id"],
                         partition_by=["published_year"])
    out = spark.read.parquet(path)
    assert out.count() == 2
    assert out.filter(F.col("published_year") == 2022).count() == 1


def test_upsert_never_exposes_partial_state(spark, tmp_path, monkeypatch):
    """A reader that scans the table at ANY point during an upsert sees
    a complete version — full old before publish, full new after —
    never a partially-written directory. Verified by interposing on
    the publish step (the only state transition) and reading mid-write."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "atomic")
    old = spark.createDataFrame(
        [("CVE-2020-1", 2020, "a"), ("CVE-2021-1", 2021, "b")],
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, old, ["cve_id"],
                         partition_by=["published_year"])
    old_rows = {(r.cve_id, r.summary)
                for r in spark.read.parquet(path).collect()}

    seen_mid_write = []
    real_publish = table_io.publish_version

    def spying_publish(p, vdir, keep=2):
        # the new version dir is fully written but NOT yet published:
        # a concurrent reader must still see the complete old table
        seen_mid_write.append({(r.cve_id, r.summary)
                               for r in spark.read.parquet(path).collect()})
        real_publish(p, vdir, keep)

    monkeypatch.setattr(table_io, "publish_version", spying_publish)
    upd = spark.createDataFrame(
        [("CVE-2021-1", 2021, "b2"), ("CVE-2021-2", 2021, "c")],
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, upd, ["cve_id"],
                         partition_by=["published_year"])
    assert seen_mid_write == [old_rows]
    assert {(r.cve_id, r.summary)
            for r in spark.read.parquet(path).collect()} == {
        ("CVE-2020-1", "a"), ("CVE-2021-1", "b2"), ("CVE-2021-2", "c")}


def test_upsert_crash_before_publish_leaves_table_intact(spark, tmp_path,
                                                         monkeypatch):
    """A writer dying before the pointer flip leaves the published
    version untouched; the next upsert cleans the debris and succeeds."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "crashy")
    base = spark.createDataFrame([("CVE-2020-1", 2020, "a")],
                                 ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])

    def boom(p, vdir, keep=2):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(table_io, "publish_version", boom)
    upd = spark.createDataFrame([("CVE-2020-1", 2020, "CHANGED")],
                                ["cve_id", "published_year", "summary"])
    try:
        write_upsert_parquet(path, upd, ["cve_id"],
                             partition_by=["published_year"])
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    # reader still sees the old committed state
    assert spark.read.parquet(path).first().summary == "a"
    monkeypatch.undo()
    # next writer cleans the orphaned version dir and lands the update
    write_upsert_parquet(path, upd, ["cve_id"],
                         partition_by=["published_year"])
    assert spark.read.parquet(path).first().summary == "CHANGED"
    # no unpublished version dirs newer than the current one remain
    import os
    cur = os.path.realpath(path)
    vs = table_io.versions(path)
    assert vs[-1][1] == cur, f"stale newer version survived: {vs}"


def test_version_retention_and_pruning(spark, tmp_path):
    """The previous version survives one publish (in-flight reader
    grace) and is pruned on the publish after that."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "vers")
    for i in range(4):
        df = spark.createDataFrame([("CVE-2020-1", 2020, f"s{i}")],
                                   ["cve_id", "published_year", "summary"])
        write_upsert_parquet(path, df, ["cve_id"],
                             partition_by=["published_year"])
        vs = table_io.versions(path)
        assert len(vs) <= 2, f"pruning failed: {vs}"
    assert spark.read.parquet(path).first().summary == "s3"


def test_upsert_does_not_mutate_session_conf(spark, tmp_path):
    """Regression (ADVICE r3): the partitioned upsert used to set
    spark.sql.sources.partitionOverwriteMode=dynamic on the shared
    session and never restore it. The versioned-write path doesn't
    need the conf at all — it must stay untouched."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df = spark.createDataFrame([("CVE-2020-1", 2020, "a")],
                               ["cve_id", "published_year", "summary"])
    path = str(tmp_path / "conf")
    write_upsert_parquet(path, df, ["cve_id"],
                         partition_by=["published_year"])
    write_upsert_parquet(path, df, ["cve_id"],
                         partition_by=["published_year"])
    assert spark.conf.get(key) == before


def test_time_travel_reads_previous_version(spark, tmp_path):
    """Versioned tables give Delta-style VERSION AS OF for retained
    versions: after an upsert, the previous version is still readable
    by number until pruned/vacuumed."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "tt")
    v1 = spark.createDataFrame([("CVE-2020-1", 2020, "first")],
                               ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, v1, ["cve_id"],
                         partition_by=["published_year"])
    v2 = spark.createDataFrame([("CVE-2020-1", 2020, "second")],
                               ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, v2, ["cve_id"],
                         partition_by=["published_year"])

    assert table_io.read_version(spark, path).first().summary == "second"
    ns = [n for n, _ in table_io.versions(path)]
    old, cur = min(ns), max(ns)
    assert table_io.read_version(spark, path, old).first().summary == "first"
    assert table_io.read_version(spark, path, cur).first().summary == "second"
    # vacuum drops history, keeps current; expired version read fails
    dropped = table_io.vacuum(path)
    assert dropped == [old]
    assert table_io.read_version(spark, path).first().summary == "second"
    try:
        table_io.read_version(spark, path, old)
        raise AssertionError("expected expired-version error")
    except ValueError as e:
        assert "not retained" in str(e)


def _typed_table(spark, path):
    base = spark.createDataFrame(
        [("CVE-2020-1", 2020, 1), ("CVE-2021-1", 2021, 2)],
        "cve_id string, published_year int, score int")
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])


def _refused_before_staging(spark, path, batch):
    from nvd2mysqlloader_spark.operators import table_io
    published = os.readlink(path)
    with pytest.raises(ValueError, match="differ from the table"):
        write_upsert_parquet(path, batch, ["cve_id"],
                             partition_by=["published_year"])
    assert os.readlink(path) == published
    assert len(table_io.versions(path)) == 1
    got = {r.cve_id: r.score for r in spark.read.parquet(path).collect()}
    assert got == {"CVE-2020-1": 1, "CVE-2021-1": 2}


def test_schema_evolution_add_column(spark, tmp_path):
    """An update batch carrying a NEW column is refused by the
    partition-selective upsert before anything is staged: the table
    keeps its one schema and its published version."""
    path = str(tmp_path / "evo")
    _typed_table(spark, path)
    _refused_before_staging(spark, path, spark.createDataFrame(
        [("CVE-2021-1", 2021, 3, 9.8)],
        "cve_id string, published_year int, score int, v4 double"))


def test_selective_upsert_rejects_type_change_before_staging(spark,
                                                             tmp_path):
    """A batch whose column type differs from the table's (int table,
    long batch) raises before staging: without the check it published
    int32 carried partitions beside an int64 merged one, and every
    later read of the table failed."""
    path = str(tmp_path / "typed")
    _typed_table(spark, path)
    _refused_before_staging(spark, path, spark.createDataFrame(
        [("CVE-2021-1", 2021, 3)],
        "cve_id string, published_year int, score long"))


def test_table_changes_between_versions(spark, tmp_path):
    """Derived change feed (CDF analog): inserts/updates/deletes
    between the previous and current retained versions."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "cdf")
    base = spark.createDataFrame(
        [("CVE-2020-1", 2020, "a"), ("CVE-2020-2", 2020, "b"),
         ("CVE-2021-1", 2021, "c")],
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])
    first = {(r.cve_id, r.change)
             for r in table_io.table_changes(spark, path, ["cve_id"])
             .collect()}
    assert first == {("CVE-2020-1", "insert"), ("CVE-2020-2", "insert"),
                     ("CVE-2021-1", "insert")}

    upd = spark.createDataFrame(
        [("CVE-2021-1", 2021, "c2"),      # changed value -> update
         ("CVE-2021-9", 2021, "new"),     # new key       -> insert
         ("CVE-2020-1", 2020, "a")],      # identical     -> no change
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, upd, ["cve_id"],
                         partition_by=["published_year"])
    got = {(r.cve_id, r.change)
           for r in table_io.table_changes(spark, path, ["cve_id"])
           .collect()}
    # upserts never delete, so: one update, one insert, nothing else
    assert got == {("CVE-2021-1", "update"), ("CVE-2021-9", "insert")}


def test_empty_update_batch_is_a_noop(spark, tmp_path):
    """A 0-row batch against an existing partitioned table publishes
    nothing: same version, same files (regression — used to raise on
    a None partition predicate)."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "emptyb")
    base = spark.createDataFrame([("CVE-2020-1", 2020, "a")],
                                 ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])
    before = table_io.versions(path)
    write_upsert_parquet(path, base.limit(0), ["cve_id"],
                         partition_by=["published_year"])
    assert table_io.versions(path) == before
    assert spark.read.parquet(path).count() == 1


def test_upsert_null_partition_value(spark, tmp_path):
    """A null partition value lands in __HIVE_DEFAULT_PARTITION__ and
    merges correctly: eqNullSafe selects the null slice for the pruned
    read, and the written-dirs hardlink set treats it as touched."""
    path = str(tmp_path / "nullpart")
    base = spark.createDataFrame(
        [("CVE-2020-1", 2020, "a"), ("CVE-0000-9", None, "undated")],
        "cve_id string, published_year int, summary string")
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])
    upd = spark.createDataFrame(
        [("CVE-0000-9", None, "undated-v2")],
        "cve_id string, published_year int, summary string")
    write_upsert_parquet(path, upd, ["cve_id"],
                         partition_by=["published_year"])
    got = {r.cve_id: (r.published_year, r.summary)
           for r in spark.read.parquet(path).collect()}
    assert got == {"CVE-2020-1": (2020, "a"),
                   "CVE-0000-9": (None, "undated-v2")}


def test_upsert_multilevel_partitioning(spark, tmp_path):
    """Two-level partition_by: only the touched (year, month) leaf is
    rewritten; sibling leaves carry over by hardlink."""
    import glob
    import os
    path = str(tmp_path / "ml")
    base = spark.createDataFrame(
        [("k1", 2020, 1, "a"), ("k2", 2020, 2, "b"), ("k3", 2021, 1, "c")],
        ["k", "y", "m", "v"])
    write_upsert_parquet(path, base, ["k"], partition_by=["y", "m"])
    before = {p: os.stat(p).st_ino
              for p in glob.glob(f"{path}/y=2020/m=2/*.parquet")}
    upd = spark.createDataFrame([("k1", 2020, 1, "a2")],
                                ["k", "y", "m", "v"])
    write_upsert_parquet(path, upd, ["k"], partition_by=["y", "m"])
    # untouched sibling leaf inode-identical; touched leaf rewritten
    assert {p: os.stat(p).st_ino
            for p in glob.glob(f"{path}/y=2020/m=2/*.parquet")} == before
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {"k1": "a2", "k2": "b", "k3": "c"}


def test_conditional_merge_rejects_stale_batch(spark, tmp_path):
    """order_col merge: a later batch carrying an OLDER record of a
    key must not overwrite the fresher row (split-drain / replayed-
    backfill ordering hazard); newer records and new keys still land."""
    path = str(tmp_path / "cond")
    cols = ["cve_id", "published_year", "summary", "last_modified"]
    fresh = spark.createDataFrame(
        [("CVE-2020-1", 2020, "fresh", "2024-06-01T00:00Z")], cols)
    write_upsert_parquet(path, fresh, ["cve_id"],
                         partition_by=["published_year"],
                         order_col="last_modified")
    stale_batch = spark.createDataFrame(
        [("CVE-2020-1", 2020, "STALE", "2024-01-01T00:00Z"),
         ("CVE-2020-2", 2020, "new key", "2024-01-01T00:00Z")], cols)
    write_upsert_parquet(path, stale_batch, ["cve_id"],
                         partition_by=["published_year"],
                         order_col="last_modified")
    got = {r.cve_id: r.summary for r in spark.read.parquet(path).collect()}
    assert got == {"CVE-2020-1": "fresh", "CVE-2020-2": "new key"}
    # equal order value: the update wins the tie (REPLACE semantics)
    tie = spark.createDataFrame(
        [("CVE-2020-1", 2020, "tie-update", "2024-06-01T00:00Z")], cols)
    write_upsert_parquet(path, tie, ["cve_id"],
                         partition_by=["published_year"],
                         order_col="last_modified")
    assert spark.read.parquet(path).filter(
        "cve_id = 'CVE-2020-1'").first().summary == "tie-update"


def test_delete_arm_removes_keys_and_empties_partitions(spark, tmp_path):
    """The merge's delete arm: a flagged update row removes its key and
    is not written, in the one publish of the upsert. A partition the
    deletes empty is gone from the new version (not carried over by
    hardlink), a table every row of which is deleted still reads with
    its schema, and under ``order_col`` a stale flagged row loses to a
    fresher stored one."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "del")
    cols = ["cve_id", "published_year", "summary", "last_modified"]
    base = spark.createDataFrame(
        [("CVE-2020-1", 2020, "a", "2024-01-01"),
         ("CVE-2020-2", 2020, "b", "2024-06-01"),
         ("CVE-2021-1", 2021, "c", "2024-01-01")], cols)
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])

    def upsert(rows, **kw):
        batch = spark.createDataFrame(rows, cols + ["gone"])
        write_upsert_parquet(path, batch, ["cve_id"],
                             partition_by=["published_year"],
                             delete_flag="gone", **kw)

    def table():
        return {r.cve_id: r.summary for r in spark.read.parquet(path).collect()}

    v = table_io.versions(path)[-1][0]
    upsert([("CVE-2021-1", 2021, "x", "2024-07-01", True),
            ("CVE-2020-1", 2020, "a2", "2024-07-01", False),
            ("CVE-2022-1", 2022, "y", "2024-07-01", True),
            ("CVE-2022-2", 2022, "z", "2024-07-01", None)])
    assert table_io.versions(path)[-1][0] == v + 1
    assert table() == {"CVE-2020-1": "a2", "CVE-2020-2": "b",
                       "CVE-2022-2": "z"}
    assert "published_year=2021" not in os.listdir(path)
    assert "gone" not in spark.read.parquet(path).columns

    upsert([("CVE-2020-2", 2020, "stale", "2024-01-01", True)],
           order_col="last_modified")
    assert table()["CVE-2020-2"] == "b"

    upsert([(k, y, "", "2025-01-01", True)
            for k, y in (("CVE-2020-1", 2020), ("CVE-2020-2", 2020),
                         ("CVE-2022-2", 2022))])
    assert table() == {}
    assert set(spark.read.parquet(path).columns) == set(cols)


def test_vacuum_never_deletes_published_version(spark, tmp_path):
    """vacuum with unpublished crash debris present must clean the
    debris and keep the published version (regression: the newest-N
    window could swallow the live table)."""
    import os

    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "vk")
    df = spark.createDataFrame([("CVE-2020-1", 2020, "a")],
                               ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, df, ["cve_id"],
                         partition_by=["published_year"])
    # fabricate crash debris NEWER than the published version
    stale = table_io.next_version_dir(path)
    os.makedirs(stale)
    table_io.vacuum(path)
    assert spark.read.parquet(path).first().summary == "a"
    cur = os.path.realpath(path)
    assert [d for _n, d in table_io.versions(path)] == [cur]


def test_history_and_zero_copy_clone(spark, tmp_path):
    """history() lists retained versions with the published flag;
    clone() hardlinks the current version into an independent table
    (shared inodes, separate lineage)."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_upsert_parquet(path, base, keys=["k"])
    write_upsert_parquet(
        path, spark.createDataFrame([(2, "b2")], ["k", "v"]),
        keys=["k"])

    h = {r["version"]: r for r in
         table_io.history(spark, path).collect()}
    assert len(h) == 2
    published = [v for v, r in h.items() if r["published"]]
    assert len(published) == 1 and published[0] == max(h)
    assert all(r["n_files"] > 0 and r["total_bytes"] > 0
               for r in h.values())

    cpath = str(tmp_path / "c")
    table_io.clone(path, cpath)
    want = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert {(r["k"], r["v"])
            for r in spark.read.parquet(cpath).collect()} == want

    # shared inodes: the clone's files ARE the source's files
    src_inodes = {os.stat(p).st_ino
                  for p in glob.glob(f"{table_io.current_version(path)}/**/*.parquet",
                                     recursive=True)}
    cl_inodes = {os.stat(p).st_ino
                 for p in glob.glob(f"{table_io.current_version(cpath)}/**/*.parquet",
                                    recursive=True)}
    assert cl_inodes == src_inodes and src_inodes

    # separate lineage: writing the clone never touches the source
    write_upsert_parquet(
        cpath, spark.createDataFrame([(3, "c")], ["k", "v"]),
        keys=["k"])
    assert {(r["k"], r["v"])
            for r in spark.read.parquet(path).collect()} == want
    assert spark.read.parquet(cpath).count() == 3

    # clone onto an existing table refuses
    try:
        table_io.clone(path, cpath)
        assert False, "expected FileExistsError"
    except FileExistsError:
        pass


def test_concurrent_publishers_last_writer_wins_no_corruption(spark, tmp_path):
    """N threads racing publish_version: the pointer flip is atomic
    (os.replace), so the final symlink resolves to exactly one
    COMPLETE version dir — readers can never observe a missing or
    partial table, and every intermediate read resolves."""
    import threading

    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "x")], ["k", "v"])
    write_upsert_parquet(path, base, keys=["k"])

    # pre-build N complete candidate versions, then race the flips
    dirs = []
    for i in range(6):
        vdir = table_io.next_version_dir(path) + f"_{i}"
        spark.createDataFrame([(i, "w")], ["k", "v"]) \
            .coalesce(1).write.parquet(vdir)
        dirs.append(vdir)

    stop, errors = False, []

    def reader():
        while not stop:
            cur = table_io.current_version(path)
            if cur is None or not os.path.isdir(cur):
                errors.append(f"dangling pointer: {cur}")
                return

    def publisher(d):
        try:
            table_io.publish_version(path, d, keep=100)
        except Exception as ex:          # a colliding publisher is a bug
            errors.append(f"publisher failed: {ex!r}")

    rt = threading.Thread(target=reader)
    rt.start()
    threads = [threading.Thread(target=publisher, args=(d,))
               for d in dirs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop = True
    rt.join()

    assert not errors, errors
    final = table_io.current_version(path)
    assert final in [os.path.abspath(d) for d in dirs] or final in dirs
    assert spark.read.parquet(path).count() == 1   # one complete version


def test_interrupted_migration_is_repaired_not_deleted(spark, tmp_path):
    """A crash between ensure_versioned's rename and symlink must NOT
    cost the table: cleanup_stale completes the migration (re-links to
    .__v0) instead of deleting the committed data."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]) \
        .write.parquet(path)
    # simulate the crash window: rename happened, symlink did not
    os.rename(path, path + ".__v0")
    assert table_io.current_version(path) is None

    table_io.cleanup_stale(path)
    assert table_io.current_version(path) is not None
    assert spark.read.parquet(path).count() == 2

    # and a subsequent upsert proceeds on the repaired table
    write_upsert_parquet(path,
                         spark.createDataFrame([(3, "c")], ["k", "v"]),
                         keys=["k"])
    assert spark.read.parquet(path).count() == 3


def test_delete_rows_partition_selective(spark, tmp_path):
    """write_delete_parquet: the MERGE family's DELETE arm (GDPR /
    takedown removal). Partition-selective: only partitions containing
    hits are rewritten; untouched ones carry over byte-identical; an
    emptied partition vanishes instead of resurrecting via hardlink;
    a miss-only tombstone batch publishes NOTHING (idempotent replay);
    time travel still reads the pre-delete version."""
    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet

    path = str(tmp_path / "docs")
    base = spark.createDataFrame(
        [("CVE-2020-1", 2020, "a"), ("CVE-2020-2", 2020, "b"),
         ("CVE-2021-1", 2021, "c"), ("CVE-2022-1", 2022, "d")],
        ["cve_id", "published_year", "summary"])
    write_upsert_parquet(path, base, ["cve_id"],
                         partition_by=["published_year"])
    before_2020 = _files(path, "published_year=2020")
    before_2021 = _files(path, "published_year=2021")

    # delete one 2020 row and the ONLY 2022 row (empties the partition)
    tomb = spark.createDataFrame(
        [("CVE-2020-2",), ("CVE-2022-1",), ("CVE-1999-404",)], ["cve_id"])
    n = write_delete_parquet(path, tomb, ["cve_id"],
                             partition_by=["published_year"])
    assert n == 2
    got = {r.cve_id for r in spark.read.parquet(path).collect()}
    assert got == {"CVE-2020-1", "CVE-2021-1"}
    # 2021 untouched (same files/mtimes), 2020 rewritten, 2022 gone
    assert _files(path, "published_year=2021") == before_2021
    assert _files(path, "published_year=2020") != before_2020
    assert not os.path.exists(os.path.join(
        table_io.current_version(path), "published_year=2022"))
    # time travel: previous version still has all 4 rows
    assert table_io.read_version(spark, path, 1).count() == 4

    # miss-only batch: no new version, count 0
    v_before = table_io.current_version(path)
    assert write_delete_parquet(
        path, spark.createDataFrame([("CVE-404",)], ["cve_id"]),
        ["cve_id"], partition_by=["published_year"]) == 0
    assert table_io.current_version(path) == v_before


def test_delete_rows_unpartitioned(spark, tmp_path):
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet

    path = str(tmp_path / "t")
    write_upsert_parquet(
        path, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                                    ["k", "v"]), ["k"])
    assert write_delete_parquet(
        path, spark.createDataFrame([(2,), (9,)], ["k"]), ["k"]) == 1
    assert {r.k for r in spark.read.parquet(path).collect()} == {1, 3}
    # table that never existed: 0, no crash
    assert write_delete_parquet(
        str(tmp_path / "nope"),
        spark.createDataFrame([(1,)], ["k"]), ["k"]) == 0


def test_delete_rows_legacy_plain_directory(spark, tmp_path):
    """A table written as a plain parquet dir (pre-versioned layout)
    is migrated in place and deleted from correctly."""
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet

    path = str(tmp_path / "legacy")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]) \
        .write.parquet(path)
    assert write_delete_parquet(
        path, spark.createDataFrame([(1,)], ["k"]), ["k"]) == 1
    assert {r.k for r in spark.read.parquet(path).collect()} == {2}


def _delete_rows(spark, path, rows, schema, keys):
    """Delete ``rows`` (tuples of ``schema``) through
    ``write_delete_parquet``, returning the count it reports."""
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet
    return write_delete_parquet(
        path, spark.createDataFrame(rows, schema).select("k"), ["k"],
        partition_by=keys)


def _delete_flagged(spark, path, rows, schema, keys):
    """Delete ``rows`` through the upsert's delete arm (every row
    flagged), returning the number of rows sent."""
    batch = spark.createDataFrame(rows, schema).withColumn("d", F.lit(True))
    write_upsert_parquet(path, batch, ["k"], partition_by=keys,
                         delete_flag="d")
    return len(rows)


@pytest.mark.parametrize("delete", [_delete_rows, _delete_flagged],
                         ids=["write_delete_parquet", "delete_flag"])
@pytest.mark.parametrize("value,kept,dtype,leaf", [
    (1e-8, 0.5, "double", "w=1.0E-8"),
    ("a:b", "c", "string", "w=a%3Ab"),
    (None, "c", "string", "w=__HIVE_DEFAULT_PARTITION__"),
], ids=["double", "escaped", "null"])
def test_delete_partition_dir_rendering_not_reconstructed(
        spark, tmp_path, delete, value, kept, dtype, leaf):
    """Spark renders a partition value its own way (double 1e-8 as dir
    'w=1.0E-8' while str() gives '1e-08'; 'a:b' escaped to 'w=a%3Ab';
    null as the default partition). Both delete entry points must find
    the dir the write rendered, or the emptied partition hardlinks
    back and the delete silently fails."""
    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "t")
    schema = f"k long, w {dtype}, v string"
    write_upsert_parquet(path, spark.createDataFrame(
        [(1, value, "a"), (2, value, "b"), (3, kept, "c")], schema),
        ["k"], partition_by=["w"])
    assert os.path.isdir(os.path.join(table_io.current_version(path), leaf))
    n = delete(spark, path, [(1, value, "a"), (2, value, "b")], schema,
               ["w"])
    assert n == 2
    assert {r.k for r in spark.read.parquet(path).collect()} == {3}
    assert not os.path.exists(
        os.path.join(table_io.current_version(path), leaf))


@pytest.mark.parametrize("write", [
    lambda spark, path: write_upsert_parquet(
        path, spark.createDataFrame([(1, "z", 7)], "k long, v string, y int"),
        ["k"], partition_by=["y"]),
    lambda spark, path: _delete_rows(spark, path, [(1,)], "k long", ["y"]),
], ids=["write_upsert_parquet", "write_delete_parquet"])
def test_foreign_partition_dir_names_are_refused(spark, tmp_path, write):
    """A table another tool wrote with dir 'y=07' (read back as 7)
    beside 'y=8': the rewrite would write 'y=7' and carry 'y=07'
    beside it, duplicating its rows. Both writers refuse it with a
    ValueError naming the path, before staging a version."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "foreign")
    for leaf, ks in (("y=07", [1, 2]), ("y=8", [3])):
        os.makedirs(f"{path}/{leaf}")
        pq.write_table(pa.table({"k": ks, "v": ["x"] * len(ks)}),
                       f"{path}/{leaf}/part-0.parquet")
    with pytest.raises(ValueError, match=re.escape(path)):
        write(spark, path)
    assert [n for n, _ in table_io.versions(path)] == [0]
    assert sorted(r.k for r in spark.read.parquet(path).collect()) \
        == [1, 2, 3]


def test_delete_everything_partitioned_table_stays_readable(spark, tmp_path):
    """Review r5 #2 (confirmed repro): deleting every row of a
    partitioned table must publish a schema-bearing EMPTY table, not a
    directory no reader can infer a schema from."""
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2020), (2, 2021)], ["k", "y"])
    write_upsert_parquet(path, df, ["k"], partition_by=["y"])
    n = write_delete_parquet(
        path, spark.createDataFrame([(1,), (2,)], ["k"]), ["k"],
        partition_by=["y"])
    assert n == 2
    out = spark.read.parquet(path)
    assert out.count() == 0
    assert set(out.columns) == {"k", "y"}


def test_delete_null_keyed_rows(spark, tmp_path):
    """Review r5 #3: a NULL tombstone key targets NULL-keyed rows
    (null-safe <=> match) — a removal tool must reach quarantined
    malformed records that plain '=' would silently skip."""
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(None, "bad"), (2, "b"), (3, "c")],
                               "k int, v string")
    write_upsert_parquet(path, df, ["k"])
    n = write_delete_parquet(
        path, spark.createDataFrame([(None,), (3,)], "k int"), ["k"])
    assert n == 2
    assert {r.v for r in spark.read.parquet(path).collect()} == {"b"}


def test_delete_legacy_partitioned_emptied_partition_stays_gone(
        spark, tmp_path):
    """Review r5 pass-2 #1: on a legacy plain-dir PARTITIONED table the
    version must be resolved AFTER the in-place migration — resolving
    first pins `cur` to the pre-migration path, the realpath-relative
    affected-dir set comes out as '../t/y=...' garbage, and an emptied
    partition hardlinks back (delete reports success, data survives)."""
    from nvd2mysqlloader_spark.operators.upsert import write_delete_parquet

    path = str(tmp_path / "legacy_part")
    (spark.createDataFrame([(1, 2020, "a"), (2, 2021, "b")],
                           ["k", "y", "v"])
     .write.partitionBy("y").parquet(path))
    n = write_delete_parquet(
        path, spark.createDataFrame([(1,)], ["k"]), ["k"],
        partition_by=["y"])
    assert n == 1
    got = {(r.k, r.y) for r in spark.read.parquet(path).collect()}
    assert got == {(2, 2021)}


def test_sized_for_write_picks_exchange_by_estimated_bytes(spark):
    """r13 file-sizing shim (table_io.sized_for_write, VERDICT r12 ask #5):
    an output whose catalyst estimate fits in ONE advisory partition
    coalesces to a single task (no exchange) — the r12 rebalance
    charged one exchange per bench-scale version write for the same
    single output file; an output estimated past the advisory size
    keeps the scale-correct AQE REBALANCE. Branch choice is pinned
    via the advisory conf (the only input besides the estimate)."""
    from nvd2mysqlloader_spark.operators.table_io import \
        sized_for_write

    df = spark.range(1000).selectExpr("id", "id * 2 as v")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "64m")
        small = sized_for_write(df)._jdf.queryExecution() \
            .explainString(spark._jvm.org.apache.spark.sql.execution
                           .ExplainMode.fromString("extended"))
        assert "Repartition 1" in small or "Coalesce 1" in small, small
        assert "rebalance" not in small.lower(), small
        spark.conf.set(key, "1b")
        big = sized_for_write(df)._jdf.queryExecution() \
            .explainString(spark._jvm.org.apache.spark.sql.execution
                           .ExplainMode.fromString("extended"))
        assert "REBALANCE" in big or "RebalancePartitions" in big, big
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_sized_for_write_rebalances_between_half_and_full_advisory(
        spark):
    """The coalesce branch keeps a factor-of-two margin under the
    advisory size (the estimate is not a bound): an output estimated
    between half and the whole advisory partition takes the
    rebalance, and one at no more than half still coalesces."""
    from nvd2mysqlloader_spark.operators.table_io import \
        sized_for_write

    df = spark.range(1000).selectExpr("id", "id * 2 as v")
    est = int(df._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    mode = (spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("extended"))
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, f"{est * 3 // 2}b")
        plan = sized_for_write(df)._jdf.queryExecution() \
            .explainString(mode)
        assert "REBALANCE" in plan or "RebalancePartitions" in plan, plan
        spark.conf.set(key, f"{est * 2}b")
        plan = sized_for_write(df)._jdf.queryExecution() \
            .explainString(mode)
        assert "rebalance" not in plan.lower(), plan
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_small_version_write_lands_one_file_per_version(spark, tmp_path):
    """The file-count property the r12 rebalance bought must survive
    the r13 conditional shim: a bench-scale (sub-advisory) version
    write lands exactly ONE data file — now via the exchange-free
    coalesce branch."""
    import glob as _glob

    from nvd2mysqlloader_spark.operators import table_io

    path = str(tmp_path / "sized")
    base = spark.range(200).selectExpr("id as k", "id * 3 as v")
    write_upsert_parquet(path, base, ["k"])
    upd = spark.range(50).selectExpr("id as k", "id * 7 as v")
    write_upsert_parquet(path, upd, ["k"])
    cur = table_io.current_version(path)
    files = [p for p in _glob.glob(f"{cur}/*.parquet")
             if not os.path.basename(p).startswith(("_", "."))]
    assert len(files) == 1, files
    got = {(r.k, r.v) for r in spark.read.parquet(cur).collect()}
    want = {(k, k * 7) for k in range(50)} | {(k, k * 3)
                                              for k in range(50, 200)}
    assert got == want
