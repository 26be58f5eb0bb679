"""Lineage-cut helper shared by the iterative operators and the dedup
self-joins.

Iterative loops (graph.py label propagation / star contraction,
kmeans.py Lloyd rounds) double their plan every round without a
checkpoint, and a DataFrame consumed by both sides of a self-join (and
again by a verify join-back) is otherwise computed once PER CONSUMER:
AQE's broadcast conversion of the band/quarter self-join defeats
ReuseExchange, so the whole upstream pipeline — including the Arrow
shingling UDF — re-executes per side (measured 4× ArrowEvalPython in
the minhash candidate plan, ~5 s of the ~6 s candidate step at
sf0.1). The choice of WHICH checkpoint is a deployment property:

* local mode / tests: ``localCheckpoint(eager=True)`` — executor-local
  blocks, no external storage needed. Eager, because with a LAZY
  checkpoint the concurrent AQE subplans of a downstream join race to
  be "first use" and each recomputes the upstream pipeline before the
  blocks land (measured 2.3× the whole minhash_near_dup query: 5.6 s
  lazy vs 2.4 s eager at sf0.1).
* cluster: set ``spark.checkpoint.dir`` (or call
  ``sparkContext.setCheckpointDir``) and the SAME code paths switch to
  reliable ``checkpoint()`` — iteration state lands in fault-tolerant
  storage and survives executor loss, which localCheckpoint blocks do
  not. conf/spark-defaults-100tb.conf sets this for the 100 TB
  deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — reliable
    ``checkpoint()`` when the SparkContext has a checkpoint directory
    configured, else ``localCheckpoint()``.

    ``eager=False`` FUSES the materialization into the caller's next
    action instead of paying a dedicated checkpoint job: legal ONLY
    when that next action provably computes every partition of ``df``
    (a global count/aggregate/collect over the full frame, or a
    filter/projection count above it) BEFORE any other consumer sees
    the frame — the iterative loops' per-round convergence probes are
    exactly this shape, so each round pays one job instead of two.
    Any other use re-opens the lazy-checkpoint race described above.
    The fusion exists only for ``localCheckpoint``: a lazy RELIABLE
    checkpoint writes its files in a second job after the action,
    which recomputes the whole upstream, so with a checkpoint
    directory set the cut stays eager whatever ``eager`` says."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def persistent_rdd_ids(spark) -> set[int]:
    """IDs of every currently persisted RDD (incl. localCheckpoint
    blocks, which a gc.collect()+System.gc() round NEVER reclaims —
    a JVM-side reference survives py4j detach; pinned by
    tests/test_bench_hygiene.py)."""
    return {int(i) for i in
            spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def reclaim_new_rdds(spark, pre_ids: set[int]) -> int:
    """Deterministically unpersist every RDD not in ``pre_ids`` —
    THE reclaim primitive shared by bench.py's between-entry
    hygiene_sweep and the drained-stream queries whose foreachBatch
    bodies cut lineage per micro-batch. Safe whenever the caller's
    results are already materialized elsewhere (collected, or flushed
    to parquet). Returns the number reclaimed."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    reclaimed = 0
    for rid in list(jmap.keySet()):
        if int(rid) not in pre_ids:
            jmap.get(rid).unpersist(False)
            reclaimed += 1
    return reclaimed
