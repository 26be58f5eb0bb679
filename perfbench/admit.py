"""Workload ``llm_dedup_admit``: near-duplicate admission of arriving
documents against a persisted MinHash signature table.

Set-up writes the seeded corpus (planted near-dups and a boilerplate
mega-cluster), builds its band-partitioned signature table with
``write_banded_signature_table`` and probes it with the corpus's planted
variants, each of which must find a candidate; that time is ``setup_s``.
Then one
admitter loops (closed loop) over batches of arriving documents: it
shingles a batch, probes the table with
``incremental_minhash_candidates_banded`` (admission cap on), finds
near-dups inside the batch with ``minhash_near_dups`` and appends the
survivors' signatures. Each batch's flagged set must equal the planted
near-dups in it.

A traced run then runs ``maintain_signature_table`` once, with a
small-file trigger that the run's appends always pass, so that its
compaction does work; curates the corpus once with ``curate_corpus``
(its export plus rejection log must partition the input); and runs a
slice of the registry's dedup queries, each checked against its DuckDB
oracle.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from common import Clock, Run, disk_bytes, measured
from gen import BATCH, MEGA, N_DOCS, DocCorpus, traffic, write_documents

# max_candidates_per_new, below the mega-cluster's size so that the cap
# collapses its band groups and bounds a boilerplate doc's candidates
CAP = 16
assert CAP < MEGA
BANDS = 16             # write_banded_signature_table's default
# maintenance compacts a subtable once a dir holds more files than this;
# one append adds a file to every dir it touches
MAINTAIN_FILES_PER_DIR = 1
# registry queries over the documents table, traced runs only; the
# admission cap's own verdict query (probe_admission_cap, ~30 s on 4
# cores) is left out: every batch already runs the capped probe and
# checks it
PLANS_SLICE = ("lsh_bucket_cap_clusters",)
SCHEMA = "doc_id long, text string, lang string, source string"


def install(rec) -> None:
    from nvd2mysqlloader_spark import corpus
    from nvd2mysqlloader_spark.operators import dedup
    for attr in ("write_banded_signature_table",
                 "incremental_minhash_candidates_banded",
                 "minhash_near_dups", "maintain_signature_table"):
        rec.wrap(dedup, attr, "dedup")
    rec.wrap(corpus, "curate_corpus", "corpus")
    rec.wrap(corpus, "connected_components", "graph")
    rec.wrap(corpus, "minhash_near_dups", "dedup")
    rec.wrap(corpus, "export_jsonl", "export")


def _shingled(df):
    from nvd2mysqlloader_spark.functions.text import shingle3_udf
    return df.select("doc_id", shingle3_udf()("text").alias("s"))


def admit(spark, path: str, rows: list) -> tuple[set, dict]:
    """Admit one batch; returns the flagged doc ids and probe counts."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.operators import dedup
    sh = _shingled(spark.createDataFrame(rows, SCHEMA)).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        cross = dedup.incremental_minhash_candidates_banded(
            spark, path, sh, max_candidates_per_new=CAP)
        pairs = cross.select("new_id").collect()
        per_new = Counter(r.new_id for r in pairs)
        intra = dedup.minhash_near_dups(sh).select(
            F.greatest("id_a", "id_b").alias("later")).collect()
        flagged = {r.new_id for r in pairs} | {r.later for r in intra}
        dedup.write_banded_signature_table(
            sh.filter(~F.col("doc_id").isin(sorted(flagged))), path)
    finally:
        sh.unpersist()
    return flagged, {"candidates": len(pairs) + len(intra),
                     "max_per_new": max(per_new.values(), default=0)}


def run_workload(spark, seed: int, seconds: float, work: str, rec) -> Run:
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.operators import dedup

    run = Run()
    corpus = DocCorpus(seed, N_DOCS)
    sf = os.path.join(work, "sf")
    text_bytes = write_documents(os.path.join(sf, "documents.parquet"),
                                 corpus.rows)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    path = os.path.join(work, "signatures")
    planted = docs.filter(F.col("doc_id").isin(sorted(corpus.planted)))
    with measured(run.setup_s, run.setup_cpu_s), rec.span("setup.build", "bench"):
        dedup.write_banded_signature_table(_shingled(docs), path)
        # every planted variant in the corpus must find a candidate (its
        # original); the probe also compiles its plans here, in set-up,
        # so that the loop's batches are not timed cold
        found = {r.new_id for r in dedup.incremental_minhash_candidates_banded(
            spark, path, _shingled(planted),
            max_candidates_per_new=CAP).select("new_id").collect()}
    run.op(True)
    run.check(found >= set(corpus.planted),
              f"set-up: planted variants {sorted(set(corpus.planted) - found)[:5]} "
              "found no candidate")

    # far more batches than a run admits: each takes seconds
    stream, dups = corpus.arrivals(int(seconds) + 10)
    admitted_bytes = text_bytes
    counts = {"candidates": 0, "docs": 0, "capped_docs": 0}
    in_table = N_DOCS
    clock = Clock()
    batch_no = 0
    while clock() < seconds:
        rows = stream[batch_no * BATCH:(batch_no + 1) * BATCH]
        try:
            with measured(run.write_s, run.write_cpu_s), \
                    rec.span("admit", "bench", docs=len(rows)) as sp:
                flagged, c = admit(spark, path, rows)
                sp["flagged"] = len(flagged)
                sp.update(c)
        except Exception as e:
            run.op(False, f"batch {batch_no}: {type(e).__name__}: {e}"[:300],
                   wrong=True)
            break
        run.op(True)
        want = {r[0] for r in rows} & dups
        run.check(flagged == want,
                  f"batch {batch_no}: flagged {sorted(flagged - want)[:5]} "
                  f"extra, {sorted(want - flagged)[:5]} missed")
        run.check(c["max_per_new"] <= CAP,
                  f"batch {batch_no}: {c['max_per_new']} candidates for one "
                  f"doc, over the cap of {CAP}")
        admitted_bytes += sum(len(r[1].encode()) for r in rows
                              if r[0] not in flagged)
        in_table += sum(r[0] not in flagged for r in rows)
        counts["candidates"] += c["candidates"]
        counts["docs"] += len(rows)
        counts["capped_docs"] += int(c["max_per_new"] == CAP)
        batch_no += 1
    loop_s = clock()

    run.storage_bytes = disk_bytes(path)
    run.input_bytes = admitted_bytes
    run.info.update(
        batches=batch_no, docs_admitted=counts["docs"], loop_s=loop_s,
        candidates_per_new_doc=counts["candidates"] / max(1, counts["docs"]),
        docs_at_cap=counts["capped_docs"], traffic=dict(traffic(), cap=CAP))
    if rec.enabled:
        _maintain(spark, run, path, in_table)
        _curate(spark, run, docs, work, rec)
        _plans(spark, run, sf, rec)
    return run


def _maintain(spark, run: Run, path: str, in_table: int) -> None:
    """``maintain_signature_table`` once, with a small-file trigger the
    run's appends always pass: both subtables must be compacted, and the
    table must still hold ``BANDS`` band rows per doc it admitted."""
    from nvd2mysqlloader_spark.operators import dedup
    try:
        t0 = time.perf_counter()
        m = dedup.maintain_signature_table(
            spark, path, max_files_per_dir=MAINTAIN_FILES_PER_DIR)
        run.info["maintain_s"] = time.perf_counter() - t0
    except Exception as e:
        run.op(False, f"maintenance: {type(e).__name__}: {e}"[:300], wrong=True)
        return
    run.op(True)
    run.check(m["compacted"] == ["bands", "sigs"]
              and m["bands_rows"] == BANDS * in_table,
              f"maintenance: {m}, expected both subtables compacted "
              f"and {BANDS * in_table} band rows")


def _curate(spark, run: Run, docs, work: str, rec) -> None:
    """``curate_corpus`` once; export and rejection log must partition
    the input ids."""
    from nvd2mysqlloader_spark import corpus
    out, log = os.path.join(work, "export"), os.path.join(work, "rejected")
    t0 = time.perf_counter()
    stats = corpus.curate_corpus(spark, docs, out, rejection_log_dir=log)
    run.info["curate_s"] = time.perf_counter() - t0
    run.info["curate_docs_per_s"] = stats["input"] / run.info["curate_s"]
    kept = [r.doc_id for r in spark.read.json(out).select("doc_id").collect()]
    gone = [r.doc_id for r in spark.read.parquet(log).select("doc_id").collect()]
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    run.check(len(kept) + len(gone) == len(ids)
              and set(kept) | set(gone) == set(ids)
              and not set(kept) & set(gone),
              "curate: export and rejection log do not partition the input")


def _plans(spark, run: Run, sf: str, rec) -> None:
    """A slice of registry queries over the seeded documents table; each
    is checked against its DuckDB oracle and its verdicts must be TRUE."""
    import duckdb

    from nvd2mysqlloader_spark.plans import QUERIES
    for name in PLANS_SLICE:
        q = QUERIES[name]
        with rec.span(f"plans.{name}", "plans"):
            rows = q.fn(spark, sf).collect()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{sf}/documents.parquet')")
            oracle = con.sql(q.oracle).fetchall()
        finally:
            con.close()
        got = sorted(tuple(r) for r in rows)
        verdicts = all(v is True for r in rows for v in r if isinstance(v, bool))
        run.check(verdicts and got == sorted(tuple(r) for r in oracle),
                  f"plans {name}: {got[:2]} vs oracle {sorted(oracle)[:2]}")
