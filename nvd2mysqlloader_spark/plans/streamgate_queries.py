"""Streaming near-dup admission gate — the STREAMING form of the
persisted-signature-table dedup operating mode (round 8, hardened
round 9; composes ``operators/dedup.write_banded_signature_table`` /
``incremental_minhash_candidates_banded`` with the foreachBatch
topology of ``streaming_queries.stream_latest_state_upsert``).

At 100 TB/day this is how new data is admitted continuously: each
micro-batch shingles and signs ONLY ITSELF, emits its near-dup
collisions (batch-vs-persisted-corpus via the PARTITION-PRUNED probe
of the band-partitioned signature table, plus batch-vs-itself via
the same LSH self-join), and appends its signatures — the corpus is
never re-shingled or fully scanned, per-batch work is
O(batch + collisions), and the signature table doubles as the dedup
state store (k longs per doc, unbounded retention by design: dedup
state must outlive any watermark). Every sink is keyed by
``batch_id`` with dynamic partition overwrite, so the gate is
EXACTLY-ONCE under foreachBatch's at-least-once delivery — a retried
batch replaces its own partitions and probes only earlier batches'
partitions (pinned by tests/test_streaming.py::
test_stream_gate_batch_retry_idempotent).

The correctness claim is ORDER- and BATCHING-INDEPENDENT and pinned
exactly: every qualifying pair is emitted EXACTLY ONCE — in the batch
where its later member arrives (cross-batch, via the probe) or in
their shared batch (intra-batch, via the self-join) — so the
canonicalized union over all batches must equal the batch-at-once
``minhash_near_dups`` over the full corpus, pair for pair including
the estimate doubles (agreeing-component counts / 64 are dyadic, so
double equality is exact). The reference re-loads every feed whole, one REPLACE INTO per row
(nvd2mysqlloader.py:448-486, feed loop 516-525); this gate is the
engine's continuous answer.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._lineage import (cut_lineage, persistent_rdd_ids,
                                  reclaim_new_rdds)
from ..sources.tpch import load_table
from .registry import query

_THRESH = 0.5
_N_BATCHES = 3


def dedup_gate_batch(spark: SparkSession, batch_df: DataFrame,
                     batch_id: int, sig_tbl: str, pair_tbl: str,
                     threshold: float = _THRESH) -> None:
    """One micro-batch of the dedup admission gate — the foreachBatch
    body, module-level so the retry contract is testable directly
    (tests/test_streaming.py::test_stream_gate_batch_retry_idempotent).

    Shingles and signs ONLY this batch, emits its near-dup collisions
    (batch-vs-itself LSH self-join + batch-vs-corpus pruned probe of
    the band-partitioned signature table), then admits the batch by
    appending its signatures. RETRY-IDEMPOTENT end to end — the
    foreachBatch delivery contract is at-least-once, so every write
    is keyed by ``batch_id`` with dynamic partition overwrite (a
    retry replaces exactly its own partitions), and the probe reads
    only signature partitions with ``batch_id < this batch``
    (``max_batch_id_exclusive``) so its view of the corpus is
    identical whether or not the failed attempt already appended this
    batch's own signatures."""
    from pyspark import StorageLevel

    from ..functions.text import shingle3_udf
    from ..operators.dedup import (incremental_minhash_candidates_banded,
                                   minhash_near_dups,
                                   write_banded_signature_table)

    shingled = batch_df.select(
        "doc_id", shingle3_udf()("text").alias("s"))
    sh = shingled.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # intra-batch collisions: the standard LSH self-join over
        # this batch only (same bands/threshold as the probe)
        intra = (minhash_near_dups(sh, threshold=threshold)
                 .select(F.col("id_a").alias("lo"),
                         F.col("id_b").alias("hi"), "est_jaccard"))
        # cross-batch collisions: pruned probe of the persisted
        # band-partitioned corpus, restricted at partition level to
        # batches strictly before this one (skipped entirely for the
        # very first batch — no table yet)
        if os.path.isfile(f"{sig_tbl}/meta.json"):
            cross = (incremental_minhash_candidates_banded(
                         spark, sig_tbl, sh, threshold=threshold,
                         max_batch_id_exclusive=batch_id)
                     .select(F.least("new_id", "old_id").alias("lo"),
                             F.greatest("new_id", "old_id")
                             .alias("hi"), "est_jaccard"))
            emitted = intra.unionAll(cross)
        else:
            emitted = intra
        # pair sink keyed by batch_id + dynamic partition overwrite:
        # a retried batch REPLACES its own partition instead of
        # appending a second copy — exactly-once emitted pairs under
        # at-least-once delivery
        (emitted.withColumn("batch_id", F.lit(batch_id).cast("long"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(pair_tbl))
        # admit the batch: append its signatures (k longs per doc),
        # same batch_id keying inside write_banded_signature_table
        write_banded_signature_table(sh, sig_tbl, batch_id=batch_id)
    finally:
        sh.unpersist()


@query(
    "stream_minhash_dedup_gate",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS stream_matches_batch,
           TRUE AS signatures_complete
    FROM documents
    """,
    doc=(
        "STREAMING MinHash dedup gate: documents staged as 3 parquet "
        "files, drained availableNow with maxFilesPerTrigger=1; each "
        "micro-batch signs itself, emits batch-vs-corpus collisions "
        "(partition-pruned probe of the band-partitioned signature "
        "table, restricted to batches < this one) plus "
        "batch-vs-itself collisions (same LSH self-join), then "
        "appends its signatures — every sink batch_id-keyed with "
        "dynamic partition overwrite (retry-idempotent). Verdict: "
        "the canonicalized emitted "
        "pair set equals the batch-at-once minhash_near_dups over "
        "the full corpus as an EXACT multiset (exceptAll both ways, "
        "estimates included), and the signature table holds exactly "
        "one signature per document — beside DuckDB's doc-count "
        "anchor. Batching-independent by construction: a pair lands "
        "in its later member's batch exactly once."
    ),
)
def stream_minhash_dedup_gate(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.dedup import minhash_near_dups, signature_rows
    from .sketch_queries import _shingled

    root = tempfile.mkdtemp(prefix="stream_gate_")
    atexit.register(shutil.rmtree, root, True)
    landing, sig_tbl, pair_tbl = (f"{root}/landing", f"{root}/sigs",
                                  f"{root}/pairs")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # stage N single-file micro-batches (deterministic split; the
    # verdict is batching-independent so pickup order is irrelevant)
    for k in range(_N_BATCHES):
        (docs.filter(F.col("doc_id") % _N_BATCHES == k)
         .coalesce(1).write.mode("append").parquet(landing))

    schema = spark.read.parquet(landing).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(landing))

    def gate(batch_df, batch_id):
        dedup_gate_batch(spark, batch_df, batch_id, sig_tbl, pair_tbl)

    # the gate's internal lineage cuts (localCheckpoint inside
    # minhash_near_dups/cut_lineage) stay pinned for the session once
    # the micro-batch ends — reclaim them after the drain exactly the
    # way bench.hygiene_sweep does between entries (shared primitive,
    # operators/_lineage.reclaim_new_rdds; everything the gate
    # produced is already flushed to parquet)
    pre_ids = persistent_rdd_ids(spark)
    q = (stream.writeStream.foreachBatch(gate)
         .option("checkpointLocation", f"{root}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    reclaim_new_rdds(spark, pre_ids)

    # a corpus where NO batch emits pairs leaves only _SUCCESS markers
    # behind (schema inference would fail) — the verdict must still
    # compute, comparing empty to empty
    from ..operators.compaction import list_data_files
    if list_data_files(pair_tbl):
        streamed = (spark.read.parquet(pair_tbl)
                    .select("lo", "hi", "est_jaccard"))
    else:
        streamed = spark.createDataFrame(
            [], "lo long, hi long, est_jaccard double")
    shingled_all = _shingled(spark, sf_dir) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    truth = (minhash_near_dups(shingled_all, threshold=_THRESH)
             .select(F.col("id_a").alias("lo"),
                     F.col("id_b").alias("hi"), "est_jaccard"))

    s_ = streamed.persist(StorageLevel.MEMORY_AND_DISK)
    t_ = truth.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        from ._helpers import multiset_diff_count
        n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
        # single-pass signed-count diff — value-identical to the
        # former exceptAll-both-ways probe, half the exchanges (r13)
        n_diff = multiset_diff_count(s_, t_, "n_diff")
        # completeness is one-signature-per-SIGNABLE-doc: a doc whose
        # text yields zero 3-shingles legitimately has no signature
        # (it can never collide) — comparing against the raw doc count
        # would fail spuriously on such a corpus (fixtures always have
        # >=1 shingle, so the oracle's TRUE is unaffected)
        n_signable = shingled_all.agg(
            F.sum(F.when(F.size("s") > 0, 1).otherwise(0))
            .cast("long").alias("n_signable"))
        # an all-unsignable corpus leaves no signature file (the
        # table's one signature reader says None)
        sig_rows = signature_rows(spark, sig_tbl)
        if sig_rows is not None:
            n_sigs = (sig_rows
                      .agg(F.count(F.lit(1)).alias("n_sigs"),
                           F.count_distinct("doc_id")
                           .alias("n_sig_docs")))
        else:
            n_sigs = spark.createDataFrame(
                [(0, 0)], "n_sigs long, n_sig_docs long")
        from ._helpers import one_row
        verdict = (one_row(n_docs, n_diff, n_sigs, n_signable)
                   .select(
                       "n_docs",
                       (F.col("n_diff") == 0).alias(
                           "stream_matches_batch"),
                       ((F.col("n_sigs") == F.col("n_signable"))
                        & (F.col("n_sig_docs") == F.col("n_signable")))
                       .alias("signatures_complete")))
        return cut_lineage(verdict)
    finally:
        s_.unpersist()
        t_.unpersist()
        shingled_all.unpersist()
