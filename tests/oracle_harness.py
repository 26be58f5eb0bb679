"""Local mirror of the driver's DuckDB-oracle comparison: run the Spark
plan and the oracle SQL on the same parquet, compare row count, sorted
column names, and an order-insensitive value hash."""

from __future__ import annotations

import contextlib
import datetime
import math

import duckdb

from nvd2mysqlloader_spark.schemas import TPCH_TABLES

# unit separator + escape: a printable '|' join would let different
# row splits canonicalize identically ('a|b','c' vs 'a','b|c'); the
# sentinels carry \x00 so no real string column can collide with
# NULL/NaN markers
_SEP = "\x1f"
_NULL = "\x00null\x00"
_NAN = "\x00nan\x00"


def _canon(v, localize: bool = False):
    if v is None:
        return _NULL
    if isinstance(v, float):
        if math.isnan(v):
            return _NAN
        # repr of the exact double — any bit difference shows up
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if isinstance(v, datetime.datetime) and localize and v.tzinfo is None:
        # Spark's collect() renders TimestampType in the DRIVER
        # MACHINE's local timezone (session timeZone does not apply to
        # fromInternal); DuckDB returns naive UTC. Re-interpret the
        # Spark value as machine-local and convert to naive UTC so the
        # comparison is machine-timezone-independent (this host is
        # UTC, so the conversion is a no-op here — the guard is for
        # running the suite elsewhere). ``localize`` is only set for
        # columns whose SPARK type is the tz-aware TimestampType:
        # TIMESTAMP_NTZ values also collect as naive datetimes but
        # have no local-zone semantics and must pass through verbatim
        # (events.ts is NTZ — converting it would spuriously mismatch
        # on any non-UTC host).
        return str(v.astimezone(datetime.timezone.utc)
                    .replace(tzinfo=None))
    s = str(v)
    return s.replace(_SEP, "\\x1f") if _SEP in s else s


def _lines(cols, rows, localize_idx: frozenset = frozenset()):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(_SEP.join(_canon(r[i], i in localize_idx) for i in order)
                  for r in rows)


def _hash_lines(lines):
    import hashlib
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _type_hazards(rel) -> list[tuple[str, str]]:
    """Driver-unsafe DuckDB output types, including NESTED occurrences:
    the driver fetches oracle results via Arrow, where HUGEINT (sum of
    any integer type) lands as decimal128(38,0) and FLOAT stays
    float32 — both canonicalize differently from Spark's BIGINT/DOUBLE
    and hash-mismatch driver-side even when values agree (observed
    rounds 1-2). Substring matching catches FLOAT[] / STRUCT(...
    HUGEINT) shapes an exact top-level match would miss."""
    out = []
    for name, t in zip(rel.columns, rel.types):
        ts = str(t)
        if ("HUGEINT" in ts or "DECIMAL(38,0)" in ts.replace(" ", "")
                or ts == "FLOAT" or "FLOAT[" in ts or "FLOAT)" in ts
                or "FLOAT," in ts):
            out.append((name, ts))
    return out


def compare(spark, sf_dir: str, fn, oracle: str) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    con = duck_con(sf_dir)
    try:
        rel = con.sql(oracle)          # binds once; no double execution
        hazards = _type_hazards(rel)
        if hazards:
            return False, (f"driver-unsafe oracle output types "
                           f"(wrap in CAST): {hazards}")
        d_cols = list(rel.columns)
        d_rows = rel.fetchall()
    finally:
        con.close()
    if sorted(s_cols) != sorted(d_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"rowcount mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    from pyspark.sql.types import TimestampType
    tz_idx = frozenset(i for i, f in enumerate(sdf.schema.fields)
                       if isinstance(f.dataType, TimestampType))
    ls = _lines(s_cols, s_rows, localize_idx=tz_idx)
    ld = _lines(d_cols, d_rows)
    if _hash_lines(ls) != _hash_lines(ld):
        diffs = [f"  spark: {a}\n  duck : {b}"
                 for a, b in zip(ls, ld) if a != b][:3]
        return False, "value-hash mismatch\n" + "\n".join(diffs)
    return True, "ok"


@contextlib.contextmanager
def executed_plans(spark):
    """Yield a list that, when the block exits, holds the physical plan
    description of every SQL execution started inside it, in start
    order — including executions a query runs internally (checkpoints,
    driver-side collects). Read from the SQL status store after the
    listener bus drains, so each plan is the final adaptive plan."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() \
            if n else -1

    first = last_id() + 1
    plans: list[str] = []
    yield plans
    for i in range(first, last_id() + 1):
        e = store.execution(i)
        if e.isDefined():
            plans.append(e.get().physicalPlanDescription())


# queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# every one is a 1-row scalar side (global total / threshold / corpus
# stats) broadcast into the fact — O(n), not quadratic. Anything NEW
# appearing here must be reviewed: an equi-join that degenerates to
# BNLJ is the classic 100 TB cliff.
SCALAR_BNLJ_OK = {
    "incremental_gate", "bm25_search", "cosine_topk", "token_pmi_pairs",
    "bigram_lm_scores", "rich_inactive_customers", "important_part_stock",
    "tfidf_top_terms",
    # deliberate tiny-side replication: the 5-row dim cross-joined with
    # the salt range (5 x 16 = 80 rows) in operators.scale.salted_join
    "salted_skew_rollup",
    # 1-row grand-total scalar broadcast into the per-key rollup
    "heavy_hitter_keys",
    # embed the cosine_topk exact-truth plan (its reviewed 5-row-query
    # broadcast non-equi join) as the verdict's comparison side
    "ann_lsh_recall_verdict", "ann_ivf_recall_verdict",
    "ann_pq_recall_verdict",
    # 1-row scalar broadcasts: exact-tally anchor, max-tokens
    # normalizer, query-by-example vector
    "hll_mergeable_tally", "mixture_temperature_weights",
    "rrf_hybrid_search",
    # 3-row quantile side broadcast into the per-group cumulative walk
    "histogram_quantile_sketch",
    # 1-row doc-stats x 1-row pack-stats verdict assembly
    "bfd_packing_verdict",
    # 1-row corpus-totals scalar broadcast into the ≤4096-row model
    "dsir_importance_weights", "dsir_resample",
    # fixed 10-row sample side broadcast non-equi pair join (45 pairs
    # by construction — bounded by _NV, not by the corpus)
    "jl_projection_distortion",
    # 1-row corpus-total scalar broadcast into the ≤ k·|sources| model
    "source_drift_kl",
    # r7 verdict rows: 1-row aggregate crossJoin assembly (the
    # bfd_packing_verdict shape); simhash additionally carries the
    # DECLARED quadratic all-pairs hamming twin (fp longs only — the
    # oracle-twin role cosine_near_dup plays for the ANN family;
    # blocking is the scale path it verifies)
    "simhash_recall_verdict", "semantic_dedup_verdict",
    "bpe_pack_verdict",
    "ann_topk_lsh_indexed", "ann_topk_ivf_indexed", "ann_topk_pq_indexed",
    # r7 mining family: 1-row user-count scalar into the support
    # filter; 1-row metric aggregates assembled into the verdict row
    "association_rules", "retrieval_eval_metrics",
    # 1-row anchor/diff aggregates assembled into the verdict row
    "bm25_search_indexed",
    # 1-row reference-size scalar broadcast into the rank mapping
    "quantile_normalize_scores",
    # iterative graph scores, seen once the lint reads the plans inside
    # their per-iteration checkpoints: a 1-row global aggregate
    # (PageRank's dangling mass, HITS's Σraw normalizer) crossJoined as
    # a broadcast into the |V|-row score vector (operators/graph.py);
    # textrank_keywords runs that PageRank over its co-occurrence graph
    "pagerank_scores", "pagerank_weighted_scores", "hits_scores",
    "cve2cpe_authority_scores", "textrank_keywords",
}


def join_lint(name: str, plans: list[str]) -> list[str]:
    """Plan lint over every plan a query executed: no CartesianProduct
    anywhere; BroadcastNestedLoopJoin only where a 1-row scalar side
    makes it linear (``SCALAR_BNLJ_OK``). Returns the offending node
    names (empty = clean)."""
    text = "\n".join(plans)
    bad = []
    if "CartesianProduct" in text:
        bad.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in text and name not in SCALAR_BNLJ_OK:
        bad.append("BroadcastNestedLoopJoin")
    return bad
