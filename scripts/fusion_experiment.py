#!/usr/bin/env python
"""VERDICT r7 ask #4 experiment: cut per-iteration job count in the
iterative graph loops.

Current hits(): every half-step localCheckpoints its raw vector
(eager -> 1 Spark job per half-step; 4 iterations = 8+ jobs before
the output action), because the div-by-scalar normalizer re-reads the
raw vector and an uncached re-read would re-run the |E| join.

Variant under test ("fused"): persist (lazy cache) each half-step
instead of checkpointing it, so NOTHING executes until one final
localCheckpoint materializes the whole 4-iteration DAG as a single
action — the cache still guarantees each raw vector computes once
(the normalizer's broadcast subquery reads the cache), but the
scheduler sees 1 job instead of 8, eliminating the per-job latency
the r7 verdict measured at ~0.25 s/iteration on pagerank.

Measures BOTH variants interleaved A/B (ambient drift cancels),
median + spread of 5 reps each, on the hits_scores edge relation at
$SPARK_GRAFT_SF_DIR. Output equality is asserted per rep (exceptAll
both ways) before any timing is trusted.

RESULT (r8, sf0.1, quiet window): base=14.1s, fused=404.9s — the
lazy-cache DAG is 29x WORSE, not better. Each of the 8 lazy caches
feeds both a broadcast-subquery normalizer and the main path; AQE
plans those consumers as independent subplans that race to be the
cache's first use, so the uncached upstream recomputes per consumer
per iteration — the exact failure mode operators/_lineage.cut_lineage
documents for lazy localCheckpoint, compounding geometrically over
the mutual recursion. The per-half-step EAGER checkpoint is
load-bearing, not overhead: it is what makes each half-step compute
exactly once. Verdict: per-iteration job count is INHERENT to the
normalizer's double-read + AQE's lazy-cache race; the ~0.25s/iter
scheduling cost stands as the price of exactly-once semantics.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F          # noqa: E402

from nvd2mysqlloader_spark.operators._lineage import (    # noqa: E402
    cut_lineage)
from nvd2mysqlloader_spark.operators.graph import hits     # noqa: E402
from nvd2mysqlloader_spark.session import get_spark        # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def hits_fused(edges: DataFrame, id_col: str = "id", iters: int = 4,
               total: int = 1_000_000_000) -> DataFrame:
    """hits() with lazy-persist half-steps and ONE materializing job."""
    edges_p = edges.select("src", "dst").persist()
    state = cut_lineage(
        edges_p.select(F.col("src").alias("node"))
        .union(edges_p.select(F.col("dst").alias("node")))
        .distinct())
    n = state.count()
    edst = edges_p.repartition("dst").persist()
    edst.count()
    esrc = edges_p.repartition("src").persist()
    esrc.count()
    edges_p.unpersist()

    def norm(raw):
        return raw.agg(F.greatest(
            F.expr(f"CAST(coalesce(sum(raw), 0) AS BIGINT) div {total}"),
            F.lit(1).cast("long")).alias("s"))

    caches = []
    auth = state.select(
        "node", F.lit(total // n).cast("long").alias("auth_fp"))
    hub = None
    for _ in range(iters):
        hraw = (edst.hint("shuffle_hash")
                .join(auth, edst["dst"] == auth["node"])
                .groupBy("src")
                .agg(F.sum("auth_fp").cast("long").alias("raw"))
                .persist())
        caches.append(hraw)
        hub = (state.join(hraw.select(F.col("src").alias("node"), "raw"),
                          "node", "left")
               .crossJoin(F.broadcast(norm(hraw)))
               .select("node", F.expr("coalesce(raw, 0L) div s")
                       .cast("long").alias("hub_fp")))
        araw = (esrc.hint("shuffle_hash")
                .join(hub, esrc["src"] == hub["node"])
                .groupBy("dst")
                .agg(F.sum("hub_fp").cast("long").alias("raw"))
                .persist())
        caches.append(araw)
        auth = (state.join(araw.select(F.col("dst").alias("node"), "raw"),
                           "node", "left")
                .crossJoin(F.broadcast(norm(araw)))
                .select("node", F.expr("coalesce(raw, 0L) div s")
                        .cast("long").alias("auth_fp")))

    out = cut_lineage(            # the ONE materializing job
        hub.join(auth.withColumnRenamed("node", "n2"),
                 F.col("node") == F.col("n2"))
        .select(F.col("node").alias(id_col), "hub_fp", "auth_fp"))
    for c in caches:
        c.unpersist()
    esrc.unpersist()
    edst.unpersist()
    return out


def trade_edges(spark):
    # the hits_scores edge relation (linkgraph_queries.hits_scores)
    from nvd2mysqlloader_spark.sources.tpch import load_table
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    return (li.join(od, li["l_orderkey"] == od["o_orderkey"])
            .select((F.col("l_suppkey") * 2).alias("src"),
                    (F.col("o_custkey") * 2 + 1).alias("dst"))
            .distinct())


def main() -> None:
    spark = get_spark("fusion_exp")
    spark.range(1000).selectExpr("sum(id)").collect()
    reps = 5
    t_base, t_fused = [], []
    for r in range(1 + reps):
        e = trade_edges(spark)
        t0 = time.perf_counter()
        base = hits(e, id_col="node")
        base.count()
        dt_b = time.perf_counter() - t0

        e = trade_edges(spark)
        t0 = time.perf_counter()
        fused = hits_fused(e, id_col="node")
        fused.count()
        dt_f = time.perf_counter() - t0

        diff = (base.exceptAll(fused).unionAll(fused.exceptAll(base))
                .count())
        assert diff == 0, f"variants diverge: {diff} rows"
        if r > 0:
            t_base.append(round(dt_b, 3))
            t_fused.append(round(dt_f, 3))
        print(f"# rep{r}: base={dt_b:.3f}s fused={dt_f:.3f}s",
              file=sys.stderr)
        import gc
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # reclaim leftover checkpoints between reps (bench discipline)
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet()):
            jmap.get(rid).unpersist(False)

    print("base :", t_base, "median", statistics.median(t_base),
          "spread", round(max(t_base) / min(t_base), 2))
    print("fused:", t_fused, "median", statistics.median(t_fused),
          "spread", round(max(t_fused) / min(t_fused), 2))
    spark.stop()


if __name__ == "__main__":
    main()
