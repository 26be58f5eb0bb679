"""Workload ``nvd_refresh_read``: the scheduled feed refresh beside
downstream SQL readers.

Set-up backfills the seeded landing directory into a fresh warehouse
(``run_ingest(maintain=True)`` + ``purge_rejected``); that time is
``setup_s``. Then one writer loops refresh cycles (closed
loop): each lands a new ``modified``/``recent`` pair and runs
``run_ingest`` + ``purge_rejected``. Beside it one reader thread sends
``query_layer`` reads on a fixed-rate open-loop schedule, re-registering
the views when the published silver version changes; each read is timed
from its due time. Every read result is checked afterwards against the
model states the overlapping refresh could have published.

Views that ``query_layer.register_nvd_views`` registers list their files
through the table's symlink, so a read that runs across a publish can
fail with ``FILE_NOT_EXIST`` (see ``table_io``: only version-pinned
reads survive one publish). Where the open-loop reads would hit that
window by chance, the benchmark keeps each read and each publish apart
(``PUBLISH_GATE``) and instead provokes it once per run, in set-up:
views registered after the backfill's ingest are read after the purge's
one silver publish. That read is a counted failure as long as the
defect stands, in every run alike.
"""

from __future__ import annotations

import os
import random
import re
import threading
import time

from common import Clock, Run, disk_bytes, measured, median
from gen import (CYCLE_NEW, CYCLE_REJECTS, CYCLE_UPDATES, N_CVES, YEARS,
                 NvdCorpus, traffic)
from metrics import table_facts

# reads per second: well below the capacity beside a refresh, where
# queueing would amplify the host's load swings. The reads' CPU counts
# in the refresh's CPU seconds, and a refresh that other tenants stretch
# overlaps more of them: at 1/s a cycle's CPU seconds moved 30-46 with
# its wall time, so the rate is kept at one read per two seconds
READ_RATE = 0.5
READ_MIX = (("cve_by_id", 40), ("cves_published_between", 15),
            ("cpe_search", 15), ("cves_with_min_score", 10),
            ("latest_feed_state", 10), ("cve_tally", 10))
# READ_MIX in blocks of 20, interleaved
READ_BLOCK = ("cve_by_id", "cves_published_between", "cpe_search",
              "cve_by_id", "cves_with_min_score", "latest_feed_state",
              "cve_by_id", "cve_tally", "cves_published_between",
              "cve_by_id", "cpe_search", "cve_by_id",
              "cves_with_min_score", "latest_feed_state", "cve_by_id",
              "cve_tally", "cves_published_between", "cve_by_id",
              "cpe_search", "cve_by_id")
# held by a reader from its version check to its result, and by the
# writer around every publish: the reads served beside a refresh never
# straddle a publish (the set-up's stale-view read does, on purpose)
PUBLISH_GATE = threading.Lock()
SAMPLE_IDS = 8         # ids checked per backfill/refresh
# the loop runs at least this many refresh cycles, so that its median
# never rests on the first cycle alone (a cycle takes 8-13 s on 4 cores)
MIN_CYCLES = 2


def _gated(publish):
    def gated(*args, **kwargs):
        with PUBLISH_GATE:
            return publish(*args, **kwargs)
    return gated


def install(rec) -> None:
    """The publish gate, and spans around the module attributes the
    ingest path calls through."""
    from nvd2mysqlloader_spark import ingest, query_layer
    from nvd2mysqlloader_spark.operators import compaction, table_io, upsert
    rec.patch(table_io, "publish_version", _gated(table_io.publish_version))
    for attr, layer in (("run_ingest", "ingest"), ("purge_rejected", "ingest"),
                        ("fresh_feeds", "ingest"), ("read_feed", "cve_feed"),
                        ("explode_items", "cve_feed"), ("flatten_cve", "flatten"),
                        ("last_writer_wins", "upsert"),
                        ("write_upsert_parquet", "upsert")):
        rec.wrap(ingest, attr, layer)
    rec.wrap(upsert, "write_delete_parquet", "upsert")
    rec.wrap(compaction, "compact_parquet", "compaction")
    rec.wrap(table_io, "publish_version", "table_io", inspect=carryover)
    for attr in ("register_nvd_views", "cve_by_id", "cve_tally", "cpe_search",
                 "cves_published_between", "cves_with_min_score",
                 "latest_feed_state"):
        rec.wrap(query_layer, attr, "query_layer")


def carryover(span: dict, path: str, vdir: str, *args, **kwargs) -> None:
    """Just before a publish flips the table pointer: which leaf
    partitions of the new version the writer wrote, and which it carried
    over from the current version by hardlink (every data file has a
    second link, the current version's)."""
    from nvd2mysqlloader_spark.operators import table_io
    span["table"] = os.path.basename(path.rstrip("/"))
    span["partitions_written"] = span["partitions_linked"] = 0
    for rel in table_io.leaf_partition_dirs(vdir):
        d = os.path.join(vdir, rel)
        data = [f for f in os.listdir(d) if f.endswith(".parquet")]
        linked = data and all(os.stat(os.path.join(d, f)).st_nlink > 1
                              for f in data)
        span["partitions_linked" if linked else "partitions_written"] += 1


def read_schedule(rng: random.Random, corpus: NvdCorpus, n: int,
                  kinds: list[str] | None = None) -> list:
    """Seeded read list: kind and argument of every read, following the
    read mix, or cycling through ``kinds``."""
    ids = sorted(corpus.state)
    recent = [i for i in ids if int(i[4:8]) >= YEARS[-3]]
    if not kinds:
        # every run sends the same kinds in the same order, so a run's
        # dozen or so reads hold the same mix; the seed picks the arguments
        kinds = list(READ_BLOCK)
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "cve_by_id":
            arg = rng.choice(recent if rng.random() < 0.8 else ids)
        elif kind == "cves_published_between":
            y = rng.choice(YEARS[-6:-1] + (YEARS[-1],) * 3)
            m = rng.randrange(1, 10 if y == YEARS[-1] else 13)
            nxt = (y + 1, 1) if m == 12 else (y, m + 1)
            arg = (f"{y}-{m:02d}-01", f"{nxt[0]}-{nxt[1]:02d}-01")
        elif kind == "cpe_search":
            arg = f"product{corpus.state[rng.choice(ids)].product:05d}"
        elif kind == "cves_with_min_score":
            arg = rng.choice((9.6, 9.7, 9.8, 9.9, 10.0))
        else:
            arg = None
        out.append((kind, arg))
    return out


def do_read(spark, ql, kind: str, arg):
    """Run one read through ``query_layer`` and reduce it to a summary."""
    if kind == "cve_by_id":
        rows = ql.cve_by_id(spark, arg).collect()
        return tuple((r.last_modified_datetime, r.summary, float(r.score))
                     for r in rows)
    if kind == "cve_tally":
        return ql.cve_tally(spark).collect()[0][0]
    if kind == "cves_published_between":
        return tuple(sorted(r.cve_id for r in
                            ql.cves_published_between(spark, *arg).collect()))
    if kind == "cpe_search":
        return tuple(sorted({r.cve_id for r in ql.cpe_search(spark, arg).collect()}))
    if kind == "cves_with_min_score":
        return tuple(sorted(r.cve_id for r in
                            ql.cves_with_min_score(spark, arg).collect()))
    return tuple(sorted((r.download_name, r.lastModifiedDate)
                        for r in ql.latest_feed_state(spark).collect()))


def expected(kind: str, arg, state: dict, feeds: dict):
    """What ``do_read`` returns against a warehouse holding ``state``."""
    if kind == "cve_by_id":
        c = state.get(arg)
        return () if c is None else ((c.last_modified, c.summary, c.score),)
    if kind == "cve_tally":
        return len(state)
    if kind == "cves_published_between":
        s, e = arg
        return tuple(sorted(k for k, c in state.items() if s <= c.published < e))
    if kind == "cpe_search":
        p = int(arg[7:])
        return tuple(sorted(k for k, c in state.items() if c.product == p))
    if kind == "cves_with_min_score":
        return tuple(sorted(k for k, c in state.items() if c.score >= arg))
    return tuple(sorted(feeds.items()))


class Reader(threading.Thread):
    """The open-loop reader: read ``i`` is due at ``t0 + i / rate``."""

    def __init__(self, spark, warehouse: str, schedule: list, writer: dict,
                 rec):
        super().__init__(name="reader", daemon=True)
        self.spark, self.warehouse = spark, warehouse
        self.schedule, self.writer, self.rec = schedule, writer, rec
        self.stop = threading.Event()
        self.results: list[tuple] = []
        self.register_s: list[float] = []
        self.lateness_s: list[float] = []

    def run(self) -> None:
        from nvd2mysqlloader_spark import query_layer as ql
        from nvd2mysqlloader_spark.operators import table_io
        registered = None
        t0 = time.perf_counter()
        for i, (kind, arg) in enumerate(self.schedule):
            due = t0 + i / READ_RATE
            wait = due - time.perf_counter()
            if wait > 0 and self.stop.wait(wait):
                break
            if self.stop.is_set():
                break
            self.lateness_s.append(max(0.0, time.perf_counter() - due))
            err, got = None, None
            with PUBLISH_GATE:
                lo = self.writer["lo"]
                try:
                    with self.rec.span(f"read.{kind}", "bench", kind=kind) as sp:
                        cur = table_io.current_version(f"{self.warehouse}/nvd")
                        if cur != registered:
                            r0 = time.perf_counter()
                            ql.register_nvd_views(self.spark, self.warehouse)
                            self.register_s.append(time.perf_counter() - r0)
                            registered = cur
                        got = do_read(self.spark, ql, kind, arg)
                        sp["rows"] = len(got) if isinstance(got, tuple) else 1
                except Exception as e:          # counted as a failed read
                    err = brief(e)
                hi = self.writer["hi"]
            done = time.perf_counter()
            self.results.append((kind, arg, got, err, lo, hi, done - due))


def brief(e: Exception) -> str:
    """An exception in one line: Spark's error class and message when it
    carries one (a Py4J error's first line names only the call)."""
    text = str(e)
    m = re.search(r"\[[A-Z_]+(?:\.[A-Z_]+)*\][^\n]*", text)
    return f"{type(e).__name__}: {(m.group(0) if m else text.splitlines()[0])[:160]}"


def _stale_read(run: Run, stale, tallies: tuple, rec) -> None:
    """Run the tally planned before the purge's publish: a failure
    counts, and a result must be the tally before or after the purge."""
    try:
        with rec.span("probe.stale_view", "bench"):
            got = stale.collect()[0][0]
    except Exception as e:
        err = brief(e)
        run.info["stale_view_read"] = err
        run.op(False, f"read across a publish: {err}")
        return
    run.info["stale_view_read"] = got
    run.check(got in tallies, f"read across a publish: tally {got}")


def _check_state(spark, run: Run, warehouse: str, state: dict, purged: list,
                 rng: random.Random, what: str) -> None:
    """Tally, sampled last-writer-wins rows and purged ids against the
    model, read from the published silver version."""
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.operators import table_io
    silver = table_io.read_version(spark, f"{warehouse}/nvd")
    n = silver.select(F.count_distinct("cve_id")).first()[0]
    run.check(n == len(state), f"{what}: tally {n} != model {len(state)}")
    ids = rng.sample(sorted(state), min(SAMPLE_IDS, len(state)))
    gone = purged[:SAMPLE_IDS]
    rows = {r.cve_id: (r.last_modified_datetime, r.summary, float(r.score))
            for r in silver.filter(F.col("cve_id").isin(ids + gone)).collect()}
    for cid in ids:
        c = state[cid]
        run.check(rows.get(cid) == (c.last_modified, c.summary, c.score),
                  f"{what}: {cid} holds {rows.get(cid)}")
    for cid in gone:
        run.check(cid not in rows, f"{what}: purged {cid} still present")


def _refresh(spark, run: Run, corpus: NvdCorpus, landing: str,
             warehouse: str, rng: random.Random, states: list, writer: dict,
             rec) -> bool:
    """Land the next feed pair, refresh, check; records the refresh time
    from feeds landed to ``run_ingest`` + ``purge_rejected`` returned.
    Returns whether the refresh completed."""
    from nvd2mysqlloader_spark import ingest
    mid, final = corpus.refresh_cycle(landing, CYCLE_UPDATES, CYCLE_NEW,
                                      CYCLE_REJECTS)
    feeds = dict(corpus.feeds)
    states += [(mid, feeds), (final, feeds)]
    writer["hi"] = len(states) - 1
    what = f"refresh {corpus.cycle}"
    try:
        with measured(run.write_s, run.write_cpu_s), rec.span("refresh", "bench"):
            ingest.run_ingest(spark, landing, warehouse, maintain=True)
            ingest.purge_rejected(spark, warehouse)
    except Exception as e:
        run.op(False, f"{what} failed: {type(e).__name__}: {e}"[:300], wrong=True)
        return False
    run.op(True)
    writer["lo"] = len(states) - 1
    _check_state(spark, run, warehouse, final, sorted(set(mid) - set(final)),
                 rng, what)
    return True


def run_workload(spark, seed: int, seconds: float, work: str, rec) -> Run:
    from nvd2mysqlloader_spark import ingest

    run = Run()
    rng = random.Random(seed * 7919 + 1)
    corpus = NvdCorpus(seed, N_CVES)
    landing = os.path.join(work, "landing")
    corpus.write_landing(landing)
    live = corpus.live()
    rejected = sorted(k for k, c in corpus.state.items() if c.rejected)

    from nvd2mysqlloader_spark import query_layer as ql
    warehouse = os.path.join(work, "warehouse")
    wall, cpu = [], []
    with measured(wall, cpu), rec.span("setup.backfill", "bench"):
        ingest.run_ingest(spark, landing, warehouse, maintain=True)
    # outside the set-up's time: a reader registers the views and plans
    # a tally, and the purge then publishes one silver version under it
    ql.register_nvd_views(spark, warehouse)
    stale = ql.cve_tally(spark)
    with measured(wall, cpu), rec.span("setup.purge", "bench"):
        ingest.purge_rejected(spark, warehouse)
    run.setup_s.append(sum(wall))
    run.setup_cpu_s.append(sum(cpu))
    run.op(True)
    _check_state(spark, run, warehouse, live, rejected, rng, "backfill")
    run.info["backfill_cves"] = len(corpus.state)
    _stale_read(run, stale, (len(corpus.state), len(live)), rec)

    # warm-up, outside every metric: every read kind compiles its plan once
    ql.register_nvd_views(spark, warehouse)
    for kind, arg in read_schedule(rng, corpus, len(READ_MIX),
                                   [k for k, _ in READ_MIX]):
        run.check(do_read(spark, ql, kind, arg) == expected(
            kind, arg, live, corpus.feeds), f"warm-up read {kind}({arg})")

    # model states in publish order; the reader may see any state from
    # the last one fully published when a read starts (``lo``) to the
    # newest one the refresh in flight can publish when it ends (``hi``)
    states = [(live, dict(corpus.feeds))]
    writer = {"lo": 0, "hi": 0}
    facts = []
    reader = Reader(spark, warehouse, read_schedule(rng, corpus, 100_000),
                    writer, rec)
    clock = Clock()
    reader.start()
    try:
        while clock() < seconds or len(run.write_s) < MIN_CYCLES:
            if not _refresh(spark, run, corpus, landing, warehouse, rng,
                            states, writer, rec):
                break
            if rec.enabled:
                facts.append(table_facts(warehouse))
    finally:
        reader.stop.set()
        reader.join(timeout=120)
    if reader.is_alive():
        run.op(False, "reader did not stop", wrong=True)
    loop_s = clock()

    for kind, arg, got, err, lo, hi, lat in reader.results:
        if err is not None:
            run.op(False, f"read {kind}: {err}")
            run.request_s.append(None)
            continue
        # the feed audit is appended after the silver publish, and its
        # view is re-registered with silver's: it may lag one cycle
        first = max(0, lo - 2) if kind == "latest_feed_state" else lo
        ok = any(expected(kind, arg, s, f) == got
                 for s, f in states[first:hi + 1])
        run.check(ok, f"read {kind}({arg}) matches no state in [{lo}, {hi}]")
        run.request_s.append(lat if ok else None)

    if facts:
        run.info["table_facts"] = {k: median([f[k] for f in facts])
                                   for k in facts[0]}
    run.storage_bytes = disk_bytes(warehouse)
    run.input_bytes = corpus.input_bytes
    run.info.update(
        refresh_cycles=len(run.write_s), reads=len(reader.results),
        read_rate_per_s=READ_RATE, loop_s=loop_s,
        reader_lateness_s_max=max(reader.lateness_s, default=0.0),
        view_register_s=median(reader.register_s),
        traffic=dict(traffic(), read_mix=dict(READ_MIX)))
    return run

