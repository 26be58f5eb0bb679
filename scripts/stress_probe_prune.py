#!/usr/bin/env python
"""Flat-probe stress for the band-partitioned signature table
(VERDICT r8 ask #1): with the corpus signature table partitioned by
band-hash bucket, the incremental probe's cost must track the BATCH,
not the corpus — grow the corpus x10 at CONSTANT batch size and the
probe wall should stay ~flat.

Construction (same universe-disjointness as stress_decade.py):
replica k offsets doc_id by k*1e7 and prefixes every token with
``r{k}x`` after a \\s+ split, so replicas share no shingles — the
fixed base-universe batch has EXACTLY the same collision set at every
factor (asserted), and growth in probe wall can only come from scan
width.

The pruning math: the probe reads the band buckets the batch's own
band hashes touch — expected fraction 1 - exp(-batch*bands /
n_buckets); batch=20 docs x 16 bands = 320 hashes over n_buckets=512
=> ~half the partitions touched at fixture scale (n_buckets is kept
small so per-file sizes stay sane locally; at 100 TB it is raised
with the corpus and the touched fraction shrinks as batch*bands /
n_buckets). The scan-width story is in bands_rows_scanned against
bands_rows_total: the pruned scan's rows grow only with the touched
fraction, a full scan's with the whole corpus.

Usage: python scripts/stress_probe_prune.py [factor]   (default 10)
Prints one JSON dict; the committed table lives in PLANS.md.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F                     # noqa: E402

from nvd2mysqlloader_spark.functions.text import shingle3_udf  # noqa: E402
from nvd2mysqlloader_spark.operators.dedup import (        # noqa: E402
    incremental_minhash_candidates_banded, write_banded_signature_table)
from nvd2mysqlloader_spark.session import get_spark        # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_OFF = 10_000_000
# 512 dirs keeps fixture-scale files sane (~150+ rows each) while the
# 20-doc batch touches ~half the dirs; production policy is to RAISE
# n_buckets with the corpus (constant bucket bytes), which makes the
# probe's scanned ROWS constant too: touched dirs <= batch*bands
# regardless of n_buckets, and rows/dir = corpus*bands/n_buckets.
# SPARK_GRAFT_NBUCKETS_SCALE=1 applies that policy per factor.
N_BUCKETS = int(os.environ.get("SPARK_GRAFT_NBUCKETS", "512"))
SCALE_BUCKETS = os.environ.get("SPARK_GRAFT_NBUCKETS_SCALE") == "1"


def replicate_docs(spark, factor: int):
    """x``factor`` documents with universe-disjoint tokens."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    parts = []
    for k in range(factor):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * _OFF))
        if k > 0:
            pre = F.lit(f"r{k}x")
            d = d.withColumn(
                "text",
                F.concat_ws(" ", F.transform(
                    F.filter(F.split(F.col("text"), r"\s+"),
                             lambda t: t != ""),
                    lambda t: F.concat(pre, t))))
        parts.append(d)
    rep = parts[0]
    for p in parts[1:]:
        rep = rep.unionAll(p)
    return rep


def shingle(df):
    return df.select("doc_id", shingle3_udf()("text").alias("s"))


def timed(fn, reps: int = 3) -> float:
    times = []
    for r in range(1 + reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        if r > 0:
            times.append(dt)
    return round(statistics.median(times), 3)


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark("stress-probe-prune")
    root = tempfile.mkdtemp(prefix="probe_prune_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    # the batch must actually COLLIDE with the corpus or the
    # measurement is vacuous: pick 20 docs that the full LSH pass
    # says have near-dup partners, make THEM the new batch, and
    # exclude them from the base corpus (their partners stay). Every
    # replica universe is token-disjoint, so the batch's collision
    # set is exactly its base-universe partners at every factor
    # (asserted below).
    from nvd2mysqlloader_spark.operators.dedup import minhash_near_dups
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    dup_ids = [r["id_b"] for r in
               minhash_near_dups(shingle(base), threshold=0.5)
               .select("id_b").distinct()
               .orderBy("id_b").limit(20).collect()]
    batch = shingle(base.filter(F.col("doc_id").isin(dup_ids))) \
        .localCheckpoint(eager=True)   # sign once, identical everywhere
    n_batch = batch.count()

    out = {"sf_dir": SF_DIR, "factors": factors, "batch_docs": n_batch,
           "n_buckets": N_BUCKETS, "points": {}}
    baseline_pairs = None
    for f in factors:
        nb = N_BUCKETS * f if SCALE_BUCKETS else N_BUCKETS
        corpus = shingle(replicate_docs(spark, f)
                         .filter(~F.col("doc_id").isin(dup_ids))) \
            .persist()
        n_corpus = corpus.count()
        banded = f"{root}/banded_x{f}"
        write_banded_signature_table(corpus, banded,
                                     n_buckets=nb)
        corpus.unpersist()

        pairs = sorted(map(tuple, incremental_minhash_candidates_banded(
            spark, banded, batch).collect()))
        assert pairs, ("batch found no collisions — the flat-probe "
                       "measurement would be vacuous")
        if baseline_pairs is None:
            baseline_pairs = pairs
        assert pairs == baseline_pairs, (
            "collision set changed across factors — universes leak")

        total_bands = spark.read.parquet(banded + "/bands").count()
        # the buckets the probe touches (recomputed the way the probe
        # does) and the pruned scan's actual row count — the
        # bytes-read side of the flatness claim
        from nvd2mysqlloader_spark.operators.dedup import (
            _band_explode, minhash_signatures)
        bbuckets = sorted({r["b"] for r in minhash_signatures(batch)
                           .select(_band_explode(16)
                                   .alias("bi", "bh"))
                           .select(F.pmod(F.xxhash64("bi", "bh"),
                                          F.lit(nb)).cast("int")
                                   .alias("b")).distinct().collect()})
        pruned_rows = (spark.read.parquet(banded + "/bands")
                       .filter(F.col("bucket").isin(bbuckets)).count())

        t_banded = timed(lambda: incremental_minhash_candidates_banded(
            spark, banded, batch).count())
        out["points"][f"x{f}"] = {
            "corpus_docs": n_corpus,
            "n_buckets": nb,
            "bands_rows_total": total_bands,
            "touched_buckets": len(bbuckets),
            "bands_rows_scanned": pruned_rows,
            "probe_pairs": len(pairs),
            "banded_probe_sec": t_banded,
        }
        print(f"# x{f}: corpus={n_corpus} banded={t_banded}s "
              f"pairs={len(pairs)}", file=sys.stderr)

    first, last = f"x{factors[0]}", f"x{factors[-1]}"
    out["banded_wall_ratio"] = round(
        out["points"][last]["banded_probe_sec"]
        / out["points"][first]["banded_probe_sec"], 2)
    out["scan_rows_ratio_banded"] = round(
        out["points"][last]["bands_rows_scanned"]
        / out["points"][first]["bands_rows_scanned"], 2)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
