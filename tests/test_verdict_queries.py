"""Semantic pins for the round-7 verdict/index/graph queries beyond
the hash-oracle match (which tests/test_oracle.py already enforces
for every one of them): the pigeonhole theorem on planted data, the
tripartite role orientation of the cve2cpe graph, and the verdict
booleans being live computations rather than constants."""

from __future__ import annotations

from pyspark.sql import functions as F

from nvd2mysqlloader_spark.plans import QUERIES

from .conftest import SF_ORACLE


def test_simhash_pigeonhole_on_planted_near_identical(spark):
    """Two docs differing in ONE rare token out of many have hamming
    well under 4, so quarter blocking MUST emit the pair (pigeonhole:
    hamming<=3 shares an identical 16-bit quarter) — the theorem the
    simhash_recall_verdict boolean rides on, checked on data built to
    sit in the guaranteed band."""
    from nvd2mysqlloader_spark.functions.text import tokens
    from nvd2mysqlloader_spark.operators.dedup import (simhash64,
                                                       simhash_near_dups)

    base = " ".join(f"tok{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different text")],
        "doc_id long, text string")
    fp = {r.doc_id: r.fp for r in docs.select(
        "doc_id", simhash64(tokens("text")).alias("fp")).collect()}
    ham12 = bin(fp[1] ^ fp[2]).count("1")
    pairs = {(r.id_a, r.id_b) for r in
             simhash_near_dups(docs, "doc_id", tokens("text")).collect()}
    if ham12 <= 3:          # the guaranteed band
        assert (1, 2) in pairs
    assert ham12 <= 8       # one token over 200 barely moves the votes
    assert (1, 2) in pairs


def test_semantic_dedup_verdict_booleans_are_live(spark):
    """The verdict row's anchors must agree with a direct recount of
    the exact pair graph, and the booleans must be True on the real
    fixture — recomputed here independently of the oracle harness."""
    row = QUERIES["semantic_dedup_verdict"].fn(spark, SF_ORACLE).collect()
    assert len(row) == 1
    r = row[0]
    direct_pairs = QUERIES["cosine_near_dup"].fn(spark, SF_ORACLE).count()
    assert r.n_exact_pairs == direct_pairs
    assert r.n_isolated + (r.n_components - r.n_isolated) == r.n_components
    assert 0 <= r.n_isolated <= r.n_vecs
    assert r.isolated_all_kept and r.kept_covers_components


def test_bpe_pack_verdict_overflow_bound_is_tight(spark):
    """tokenize_and_pack's packs really do overflow (the bound is a
    live constraint, not vacuous): at least one pack at the oracle SF
    carries more than seq_len tokens, yet the verdict still passes —
    i.e. the excess is bounded by the last doc's tail as claimed."""
    from nvd2mysqlloader_spark.corpus import tokenize_and_pack
    from nvd2mysqlloader_spark.sources.tpch import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    packed = tokenize_and_pack(spark, docs, seq_len=512, num_merges=64)
    over = packed.filter(F.col("n_tokens") > 512).count()
    assert over > 0, "fixture never overflows - bound check is vacuous"
    r = QUERIES["bpe_pack_verdict"].fn(spark, SF_ORACLE).collect()[0]
    assert r.each_doc_packed_once and r.token_conserved
    assert r.overflow_bounded


def test_cve2cpe_hits_roles_respect_orientation(spark):
    """Tripartite digraph CVE→product→vendor: vendors have no
    out-edges so they can never rank as hubs; CVEs have no in-edges
    so they can never rank as authorities (top-15 per role over
    hundreds of eligible nodes)."""
    rows = QUERIES["cve2cpe_authority_scores"].fn(spark,
                                                  SF_ORACLE).collect()
    hubs = [r.node for r in rows if r.role == "hub"]
    auths = [r.node for r in rows if r.role == "authority"]
    assert len(hubs) == 15 and len(auths) == 15
    assert all(n.startswith(("cve", "p")) for n in hubs), hubs
    assert all(n.startswith(("p", "v")) for n in auths), auths
    assert all(r.score_fp > 0 for r in rows)


def test_indexed_probe_queries_rebuild_per_call(spark):
    """Index-probe queries must survive repeated invocation in one
    session (bench runs each 4x): a shared index dir would trip the
    append contract or double the corpus on the second call."""
    q = QUERIES["ann_topk_ivf_indexed"].fn
    first = q(spark, SF_ORACLE).collect()
    second = q(spark, SF_ORACLE).collect()
    assert first == second
    assert first[0].probe_matches_direct and first[0].full_k_returned


def test_one_row_union_skeleton_matches_cross_join(spark):
    """one_row (r12): the union-skeleton collector must reproduce the
    broadcast cross-join row exactly — multi-column aggregates, NULL
    aggregate values (empty-input min) and booleans included."""
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.plans._helpers import one_row

    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("even"))
    a = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum("id").alias("s"))
    b = df.filter(F.col("id") < 0).agg(F.min("id").alias("m"))  # NULL
    c = df.agg(F.min("even").alias("all_even"))
    expected = (a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
                .collect())
    got = one_row(a, b, c).collect()
    assert got == expected
    assert got[0].m is None and got[0].n == 10


def test_multiset_diff_count_matches_exceptall(spark):
    """r13 signed-count diff: value-identical to the exceptAll probes
    it replaces — both-ways count == |cntA−cntB| summed, one-way ==
    max(cntA−cntB,0) summed — across duplicates, NULLs, doubles,
    empty sides, and equal multisets."""
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.plans._helpers import multiset_diff_count

    schema = "k long, v double"
    a = spark.createDataFrame(
        [(1, 0.5), (1, 0.5), (2, None), (3, 1.0)], schema)
    b = spark.createDataFrame(
        [(1, 0.5), (2, None), (2, None), (4, 0.25)], schema)
    empty = spark.createDataFrame([], schema)

    def want_both(x, y):
        return (x.exceptAll(y).unionAll(y.exceptAll(x))).count()

    def want_one(x, y):
        return x.exceptAll(y).count()

    for x, y in [(a, b), (b, a), (a, a), (a, empty), (empty, a),
                 (empty, empty)]:
        assert multiset_diff_count(x, y, "d").collect()[0]["d"] \
            == want_both(x, y)
        assert multiset_diff_count(x, y, "d", one_way=True) \
            .collect()[0]["d"] == want_one(x, y)


def test_multiset_diff_count_rejects_internal_column_names(spark):
    """ADVICE r13 #4: an input already carrying the helper's internal
    ``__sgn`` or ``__d`` column would be counted wrong (or fail deep in
    the plan); it must be rejected up front."""
    import pytest

    from nvd2mysqlloader_spark.plans._helpers import multiset_diff_count

    for col in ("__sgn", "__d"):
        x = spark.createDataFrame([(1, 1)], f"k long, {col} long")
        with pytest.raises(ValueError, match=col):
            multiset_diff_count(x, x, "d")
