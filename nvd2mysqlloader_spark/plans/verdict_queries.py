"""Round-7 verdict twins + persisted-index probe queries.

Three families, all closing VERDICT r6 asks:

* **Verdict twins for the last rows-only queries** (r6 ask #2 — the
  ``ann_pq_recall_verdict`` pattern): ``simhash_recall_verdict``,
  ``semantic_dedup_verdict`` and ``bpe_pack_verdict`` put an
  oracle-checkable PASS/anchor row next to ``simhash_near_dup``,
  ``semantic_dedup_groups`` and ``bpe_pack_sequences``, so every
  approximate/learned family now has an ``err: null`` oracled row.
* **Persisted-index probes as queries** (r6 ask #3):
  ``ann_topk_{lsh,ivf,pq}_indexed`` register the build-once/
  query-many path — the actual 100 TB operating mode — on the oracle
  surface, each asserting probe == direct as a pinned-TRUE boolean.
* **Graph ranking over the reference's own data model** (r6 ask #5):
  ``cve2cpe_authority_scores`` runs exact-BIGINT HITS over a
  CVE→product→vendor link graph shaped like the reference's cve2cpe
  table (nvd.sql:96-117; query layer query_layer.py:88-98), with the
  same unrolled hash-matching DuckDB oracle as ``hits_scores``.

The reference itself has no verdict/graph surface (its query layer is
single-table SELECTs, nvd2mysqlloader.py:452-506); these queries pin
the engine's own guarantees cross-engine.

Registered after every other module: appends must never reshuffle the
harness's fixed-size registry prefix.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators._lineage import cut_lineage
from ..sources.tpch import load_table
from .registry import query

_SEQ_LEN = 512


# Single-row aggregate collector — union skeleton instead of a
# broadcast cross-join chain (see _helpers.one_row for the
# equivalence argument); shared with the other verdict-shaped
# collectors in streamgate/packing/mining/sketch queries.
from ._helpers import one_row as _one_row  # noqa: E402
# single-pass multiset-diff counts (r13) — value-identical to the
# former exceptAll-both-ways probes, half the exchanges (see helper)
from ._helpers import multiset_diff_count as _mdiff  # noqa: E402


# ---------------------------------------------------------------------------
# 1. SimHash verdict twin — in-query exact all-pairs hamming truth.


@query(
    "simhash_recall_verdict",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS pigeonhole_complete,
           TRUE AS candidates_subset_ok,
           TRUE AS recall8_ok
    FROM documents
    """,
    doc=(
        "SimHash blocking verdict (the bound-verdict pattern for the "
        "rows-only simhash_near_dup): the 64-bit fingerprints are "
        "xxhash64-derived and so engine-specific, but the blocking "
        "GUARANTEES are exactly checkable in-query against the "
        "all-pairs hamming truth over the same fingerprints — "
        "(a) pigeonhole completeness: every pair within hamming<=3 "
        "MUST share one of the four 16-bit quarters and therefore be "
        "emitted (a theorem, not a tuning), (b) soundness: every "
        "emitted pair really is within hamming<=8, (c) recall of the "
        "hamming<=8 truth >= 0.3 (measured 0.39-0.41 across all three "
        "SFs on this corpus, where near-threshold pairs spread their "
        "bits across quarters). The all-pairs relation is the "
        "declared quadratic oracle twin (fp longs only, like "
        "cosine_near_dup's role vs the ANN family); blocking is the "
        "scale path. DuckDB anchors the doc count and pins the three "
        "verdicts TRUE."
    ),
)
def simhash_recall_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.dedup import simhash64, simhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    fp = (docs.select("doc_id", simhash64(tokens("text")).alias("fp"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    blocked = None
    try:
        a, b = fp.alias("a"), fp.alias("b")
        ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
        allp = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                .select(F.col("a.doc_id").alias("id_a"),
                        F.col("b.doc_id").alias("id_b"),
                        ham.alias("h")))
        truth3 = allp.filter(F.col("h") <= 3).select("id_a", "id_b")
        truth8 = allp.filter(F.col("h") <= 8).select("id_a", "id_b")
        blocked = (simhash_near_dups(docs, "doc_id", tokens("text"))
                   .select("id_a", "id_b")
                   .persist(StorageLevel.MEMORY_AND_DISK))

        n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
        miss3 = (truth3.join(blocked, ["id_a", "id_b"], "left_anti")
                 .agg(F.count(F.lit(1)).alias("n_miss3")))
        bad = (blocked.join(truth8, ["id_a", "id_b"], "left_anti")
               .agg(F.count(F.lit(1)).alias("n_bad")))
        n8 = truth8.agg(F.count(F.lit(1)).alias("n_truth8"))
        nb = blocked.agg(F.count(F.lit(1)).alias("n_blocked"))

        verdict = _one_row(n_docs, miss3, bad, n8, nb).select(
            "n_docs",
            (F.col("n_miss3") == 0).alias("pigeonhole_complete"),
            (F.col("n_bad") == 0).alias("candidates_subset_ok"),
            F.coalesce(F.col("n_blocked")
                       >= 0.3 * F.col("n_truth8"), F.lit(True))
            .alias("recall8_ok"))
        return cut_lineage(verdict)
    finally:
        fp.unpersist()
        if blocked is not None:
            blocked.unpersist()


# ---------------------------------------------------------------------------
# 2. Semantic-dedup verdict twin — the exact cosine>=0.35 pair graph
# is SQL-recomputable (cosine_near_dup's oracle), and its transitive
# closure is a DuckDB recursive CTE, so this verdict carries FOUR
# exact cross-engine anchors, not just a count.

_SD_THRESHOLD = 0.35

_COS_AB = """
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
"""


@query(
    "semantic_dedup_verdict",
    oracle=f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_COS_AB} >= {_SD_THRESHOLD}),
    nodes AS (
      -- DISTINCT over UNION ALL, not plain UNION: inside a WITH
      -- RECURSIVE chain DuckDB gives a top-level-UNION CTE recursive
      -- semantics and skips the cross-branch dedup (observed: 2x|pairs|
      -- rows); the subquery form dedups correctly
      SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs
                               UNION ALL SELECT id_b FROM pairs)),
    bidir AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN bidir e ON e.src = r.node),
    assign AS (SELECT node, min(label) AS comp FROM reach GROUP BY node),
    counts AS (
      SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
             (SELECT count(*) FROM pairs) AS n_exact_pairs,
             (SELECT count(*) FROM embeddings)
               - (SELECT count(*) FROM nodes) AS n_isolated,
             (SELECT count(DISTINCT comp) FROM assign) AS n_multi)
    SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(n_exact_pairs AS BIGINT) AS n_exact_pairs,
           CAST(n_isolated AS BIGINT) AS n_isolated,
           CAST(n_isolated + n_multi AS BIGINT) AS n_components,
           TRUE AS isolated_all_kept,
           TRUE AS kept_covers_components
    FROM counts
    """,
    doc=(
        "SemDeDup verdict twin (the bound-verdict pattern for the "
        "rows-only semantic_dedup_groups): the kmeans partition is "
        "engine-specific, but the EXACT cosine>=0.35 pair graph is "
        "not — DuckDB recomputes the all-pairs relation, its "
        "isolated-vertex count, and its connected-component count "
        "(recursive-CTE closure) as four exact anchors, and two "
        "semantic-dedup guarantees ride as pinned-TRUE booleans: "
        "(a) a vector with NO global near-dup pair can never be "
        "dropped (its cluster-local pair set is a subset of the "
        "global one), and (b) the keeper count is >= the global "
        "component count (collapsing only intra-cluster pairs can "
        "merge fewer, never more, groups than the full graph). The "
        "Spark side derives both booleans from semantic_dedup's real "
        "output joined against its own exact pair relation (the "
        "oracle-green cosine_near_dup plan) and the alternating-star "
        "CC over it."
    ),
)
def semantic_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.graph import connected_components_alternating
    from ..operators.similarity import semantic_dedup
    from .vector_queries import cosine_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    sd = (semantic_dedup(emb, k=8, threshold=_SD_THRESHOLD)
          .persist(StorageLevel.MEMORY_AND_DISK))
    pairs = (cosine_near_dup(spark, sf_dir).select("id_a", "id_b")
             .persist(StorageLevel.MEMORY_AND_DISK))
    endpoints = None
    try:
        edges = pairs.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst"))
        endpoints = (edges.select(F.col("src").alias("id"))
                     .union(edges.select(F.col("dst").alias("id")))
                     .distinct()
                     .persist(StorageLevel.MEMORY_AND_DISK))
        comps = connected_components_alternating(endpoints, edges)

        n_vecs = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
        n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        n_ep = endpoints.agg(F.count(F.lit(1)).alias("n_endpoints"))
        n_multi = comps.agg(F.count_distinct("component").alias("n_multi"))
        n_kept = sd.agg(F.sum(F.col("keep").cast("long")).alias("n_kept"))
        iso_kept = (sd.join(endpoints,
                            sd["vec_id"] == endpoints["id"], "left_anti")
                    .agg(F.coalesce(F.min("keep"), F.lit(True))
                         .alias("iso_all_kept")))

        verdict = _one_row(n_vecs, n_pairs, n_ep, n_multi,
                           n_kept, iso_kept).select(
            "n_vecs", "n_exact_pairs",
            (F.col("n_vecs") - F.col("n_endpoints")).alias("n_isolated"),
            (F.col("n_vecs") - F.col("n_endpoints")
             + F.col("n_multi")).alias("n_components"),
            F.col("iso_all_kept").alias("isolated_all_kept"),
            (F.col("n_kept") >= F.col("n_vecs") - F.col("n_endpoints")
             + F.col("n_multi")).alias("kept_covers_components"))
        return cut_lineage(verdict)
    finally:
        sd.unpersist()
        pairs.unpersist()
        if endpoints is not None:
            endpoints.unpersist()


# ---------------------------------------------------------------------------
# 3. BPE-pack verdict twin — packing-bound verdict in the
# bfd_packing_verdict shape, over the full learned-BPE composition.


@query(
    "bpe_pack_verdict",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           TRUE AS each_doc_packed_once,
           TRUE AS token_conserved,
           TRUE AS overflow_bounded
    FROM documents
    """,
    doc=(
        "sequence-assembly verdict twin (the bfd_packing_verdict "
        "pattern for the rows-only bpe_pack_sequences): the learned "
        "merge list is engine-specific, but the packing CONTRACT of "
        "corpus.tokenize_and_pack is exactly checkable from its "
        "output joined against an independent encode of the same "
        "corpus — (a) every document lands in exactly one pack "
        "(exploded doc_id slots == distinct ids == corpus count), "
        "(b) token conservation: the packs' flattened token totals "
        "equal the per-document subword totals (the "
        "flatten(sort_array(collect_list)) assembly lost and "
        "duplicated nothing), and (c) the overflow bound: a pack "
        "exceeds seq_len=512 by at most its LAST document's tail "
        "(start-offset packing guarantees tokens-before-last < "
        "seq_len). DuckDB anchors doc and lang counts and pins the "
        "three invariants TRUE."
    ),
)
def bpe_pack_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..corpus import tokenize_and_pack
    from ..operators.bpe import bpe_encode_udf, bpe_train_on

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_on(docs, tokens("text"), num_merges=64)
    enc = bpe_encode_udf(merges)
    per_doc = (docs.select("lang", "doc_id",
                           F.size(enc(tokens("text"))).cast("long")
                           .alias("n"))
               .persist(StorageLevel.MEMORY_AND_DISK))
    packed = (tokenize_and_pack(spark, docs, seq_len=_SEQ_LEN,
                                num_merges=64)
              .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        doc_stats = per_doc.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n").alias("tokens_total"))
        pack_stats = packed.agg(
            F.sum(F.size("doc_ids")).cast("long").alias("n_slots"),
            F.sum("n_tokens").alias("pack_tokens_total"))
        n_distinct = (packed.select(F.explode("doc_ids").alias("doc_id"))
                      .agg(F.count_distinct("doc_id").alias("n_distinct")))
        # overflow bound: join each pack's LAST doc (doc_ids is
        # assembled in doc_id order) back to its independent token
        # count; tokens-before-last must stay under seq_len
        last = (packed.select("lang",
                              F.element_at("doc_ids", -1).alias("doc_id"),
                              "n_tokens")
                .join(per_doc, ["lang", "doc_id"])
                .agg(F.coalesce(
                    F.max(F.col("n_tokens") - F.col("n")) < _SEQ_LEN,
                    F.lit(True)).alias("overflow_bounded")))

        verdict = _one_row(doc_stats, pack_stats, n_distinct, last).select(
            "n_docs", "n_langs",
            ((F.col("n_slots") == F.col("n_docs"))
             & (F.col("n_distinct") == F.col("n_docs")))
            .alias("each_doc_packed_once"),
            (F.col("pack_tokens_total") == F.col("tokens_total"))
            .alias("token_conserved"),
            "overflow_bounded")
        return cut_lineage(verdict)
    finally:
        per_doc.unpersist()
        packed.unpersist()


# ---------------------------------------------------------------------------
# 4. Persisted-index ANN probes (r6 ask #3) — the build-once/
# query-many operating mode on the oracle surface. Each index is a
# SESSION-SCOPED read-only artifact (plans._helpers.session_artifact,
# r10 ask #1): built once per process into its own temp dir — keyed
# dirs keep the append contracts safe when bench/oracle sweeps
# re-invoke (the (stream,batch) collision fix taught this) — then
# probed by every later call, so bench walls measure the probe, not
# the construction (reported via phase_split instead). probe ==
# direct is asserted as an exact relation equality, cos_sim doubles
# included. _tmp_index remains for queries that MUTATE their
# artifact and therefore need a private per-call dir.


def _tmp_index(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return f"{d}/index"


def _emb_queries(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (emb.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    return emb, qs


def _probe_verdict(emb: DataFrame, direct: DataFrame,
                   probed: DataFrame) -> DataFrame:
    """(n_vecs anchor, probe_matches_direct, full_k_returned): exact
    multiset equality of the two result relations — ids, ranks AND
    cos_sim doubles (identical expression trees on both paths)."""
    from pyspark import StorageLevel

    cols = ["query_id", "neighbor_id", "cos_sim", "rank"]
    d_ = direct.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    p_ = probed.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_vecs = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
        n_diff = _mdiff(d_, p_, "n_diff")
        n_res = p_.agg(F.count(F.lit(1)).alias("n_results"))
        verdict = _one_row(n_vecs, n_diff, n_res).select(
            "n_vecs",
            (F.col("n_diff") == 0).alias("probe_matches_direct"),
            (F.col("n_results") == 5 * 10).alias("full_k_returned"))
        return cut_lineage(verdict)
    finally:
        d_.unpersist()
        p_.unpersist()


_IDX_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           TRUE AS probe_matches_direct,
           TRUE AS full_k_returned
    FROM embeddings
    """


@query(
    "ann_topk_lsh_indexed",
    oracle=_IDX_ORACLE,
    doc=(
        "LSH ANN against the PERSISTED signature table "
        "(write_ann_signature_table + ann_topk_from_signatures — the "
        "100 TB operating mode: hyperplane signatures computed once "
        "per corpus batch, every query batch probes the table): the "
        "probe result must equal the direct ann_topk exactly (same "
        "seed → same hyperplanes → same bands → same candidates → "
        "same exact-cosine ranking), pinned as a TRUE boolean beside "
        "DuckDB's corpus-count anchor."
    ),
)
def ann_topk_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (ann_topk, ann_topk_from_signatures,
                                        write_ann_signature_table)
    from . import _phases
    from ._helpers import session_artifact
    emb, qs = _emb_queries(spark, sf_dir)
    path, _, build_sec, cached = session_artifact(
        ("ann_sig_idx", sf_dir, 64, 11),
        lambda p: write_ann_signature_table(emb, p, n_bits=64, seed=11))
    _phases.report("ann_topk_lsh_indexed", build_sec=build_sec,
                   build_cached=float(cached))
    direct = ann_topk(emb, qs, k=10)
    probed = ann_topk_from_signatures(emb, path, qs, k=10)
    return _probe_verdict(emb, direct, probed)


@query(
    "ann_topk_ivf_indexed",
    oracle=_IDX_ORACLE,
    doc=(
        "IVF ANN against the PERSISTED inverted file (write_ivf_index "
        "+ ivf_topk_from_index): the probe is a dynamic-partition-"
        "pruned read of the nprobe probed lists — the LAYOUT skips "
        "1-nprobe/nlist of the data — and must equal the direct "
        "ivf_topk under the same centroids exactly, pinned TRUE "
        "beside DuckDB's corpus-count anchor."
    ),
)
def ann_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (ivf_topk, ivf_topk_from_index,
                                        write_ivf_index)
    from . import _phases
    from ._helpers import session_artifact
    emb, qs = _emb_queries(spark, sf_dir)
    path, cents, build_sec, cached = session_artifact(
        ("ivf_idx", sf_dir, 16),
        lambda p: write_ivf_index(emb, p, nlist=16))
    _phases.report("ann_topk_ivf_indexed", build_sec=build_sec,
                   build_cached=float(cached))
    direct = ivf_topk(emb, qs, k=10, nlist=16, nprobe=4, centroids=cents)
    probed = ivf_topk_from_index(path, qs, k=10, nprobe=4)
    return _probe_verdict(emb, direct, probed)


@query(
    "ann_topk_pq_indexed",
    oracle=_IDX_ORACLE,
    doc=(
        "PQ ANN against the PERSISTED codes table (write_pq_index + "
        "pq_topk_from_index): the ADC scan reads m small ints per "
        "vector instead of re-encoding raw embeddings, and must "
        "equal the direct pq_topk under the same codebooks exactly — "
        "including the default candidate budget, which both paths "
        "now derive from the relation actually scanned. Pinned TRUE "
        "beside DuckDB's corpus-count anchor."
    ),
)
def ann_topk_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (pq_topk, pq_topk_from_index,
                                        write_pq_index)
    from . import _phases
    from ._helpers import session_artifact
    emb, qs = _emb_queries(spark, sf_dir)
    # build-once/probe-many (the 100 TB operating mode): the codes
    # table + codebooks are a session-scoped artifact keyed on
    # (sf_dir, m, ksub); repeated calls probe the prebuilt index
    path, books, build_sec, cached = session_artifact(
        ("pq_idx", sf_dir, 8, 16),
        lambda p: write_pq_index(emb, p, m=8, ksub=16))
    _phases.report("ann_topk_pq_indexed", build_sec=build_sec,
                   build_cached=float(cached))
    direct = pq_topk(emb, qs, k=10, books=books)
    probed = pq_topk_from_index(emb, path, qs, k=10)
    return _probe_verdict(emb, direct, probed)


# ---------------------------------------------------------------------------
# 5. HITS over the reference's own data model (r6 ask #5): the
# cve2cpe link surface (nvd.sql:96-117 — one row per CVE×CPE;
# query_layer.py:88-98 searches it by vendor/product) is a tripartite
# digraph CVE→product→vendor. Mapped onto the fixtures the way every
# reference-parity query maps its shape (SURVEY §7.2): CVE≅order,
# affected product≅part (via lineitem's order→part links, the
# explode_filter_reagg analog of the CPE list), product→vendor≅
# part→supplier (lineitem's part→supplier links). Authorities are
# the vendors/products most concentrated under many-product CVEs —
# the reference's 'which vendor is most exposed' question its own
# SQL schema declares indexes for but never ships a query over.

_CVE2CPE_CTES = """
    pairs AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT DISTINCT 'cve' || CAST(l_orderkey AS VARCHAR) AS src,
                        'p' || CAST(l_partkey AS VARCHAR) AS dst
        FROM lineitem
        UNION ALL
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                        'v' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem))"""


def _cve2cpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tripartite link edges with LONG-encoded nodes (role in the low
    2 bits: cve=0, product=1, vendor=2). The 8 iterative half-steps
    of hits() shuffle the node key |E| times each — long keys halve
    the exchange payload vs 'cve123'-style strings and, measured,
    remove the multi-second full-GC stalls the string build suffered
    mid-iteration in long bench sessions. ``_decode_node`` restores
    the reference-shaped labels BEFORE any ranking, so tie-breaks
    and the oracle output are byte-identical to the string form."""
    # ONE lineitem scan for both edge roles (r12, guide §2.4): each
    # row explodes into its cve→product and product→vendor edges.
    # The dedup is NOT applied here — the caller passes
    # hits(dedup=True), which folds the distinct INTO the operator's
    # dst-partitioned cache build (HashPartitioning(dst) satisfies
    # the (src, dst) clustering), so the raw edges pay one |E|
    # exchange total instead of a distinct exchange followed by the
    # orientation re-exchange. Equivalent because the role bits make
    # the two edge sets disjoint (cve→p src ≡ 0 (mod 4), p→v src ≡ 1)
    # and dedup-after-repartition equals distinct-then-repartition as
    # a set. Raw duplication factor ~1.8 on this corpus (the p→v role
    # repeats per lineitem) — under the <2 bound where losing
    # map-side partial dedup still shuffles fewer bytes.
    li = load_table(spark, sf_dir, "lineitem")
    return (li.select(F.explode(F.array(
        F.struct((F.col("l_orderkey") * 4).alias("src"),
                 (F.col("l_partkey") * 4 + 1).alias("dst")),
        F.struct((F.col("l_partkey") * 4 + 1).alias("src"),
                 (F.col("l_suppkey") * 4 + 2).alias("dst"))))
        .alias("e"))
        .select("e.src", "e.dst"))


def _decode_node(col):
    role = F.pmod(col, F.lit(4))
    ident = (col / 4).cast("long").cast("string")
    return F.concat(
        F.when(role == 0, F.lit("cve"))
        .when(role == 1, F.lit("p")).otherwise(F.lit("v")), ident)


def _cve2cpe_oracle() -> str:
    from .linkgraph_queries import _hits_oracle
    return _hits_oracle(ctes=_CVE2CPE_CTES, top=15)


@query(
    "cve2cpe_authority_scores",
    oracle=_cve2cpe_oracle(),
    doc=(
        "HITS hubs/authorities over the cve2cpe-shaped tripartite "
        "link graph CVE→product→vendor (the reference's cve2cpe "
        "table, nvd.sql:96-117, searched by query_layer.cpe_search — "
        "mapped onto the fixtures as order→part→supplier distinct "
        "links): 4 exact-BIGINT mutual-recursion rounds "
        "(operators/graph.hits), top-15 per role. Hubs are CVEs/"
        "products whose targets are widely-affected; authorities are "
        "the products and vendors most exposed under them — the "
        "vendor-exposure ranking the reference's schema declares "
        "vendor/product indexes for (nvd.sql:108-116) but never "
        "ships. Hash-matches the same unrolled DuckDB recurrence as "
        "hits_scores; per half-step one |E|-linear join + one sum + "
        "a broadcast scalar renormalizer."
    ),
)
def cve2cpe_authority_scores(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.graph import hits
    from .linkgraph_queries import _HITS_ITERS, _HITS_TOTAL

    hs = hits(_cve2cpe_pairs(spark, sf_dir), id_col="node",
              iters=_HITS_ITERS, total=_HITS_TOTAL, dedup=True)
    # decode long-encoded nodes BEFORE ranking: the heap's tie-break
    # must order the reference-shaped string labels, not the encoding
    hs = hs.select(_decode_node(F.col("node")).alias("node"),
                   "hub_fp", "auth_fp")
    hubs = (hs.select(F.lit("hub").alias("role"), "node",
                      F.col("hub_fp").alias("score_fp"))
            .orderBy(F.desc("score_fp"), "node").limit(15))
    auths = (hs.select(F.lit("authority").alias("role"), "node",
                       F.col("auth_fp").alias("score_fp"))
             .orderBy(F.desc("score_fp"), "node").limit(15))
    return hubs.union(auths)


# ---------------------------------------------------------------------------
# 6. Incremental MinHash dedup against a PERSISTED signature table
# (r7 ask #2) — the dedup analog of the ann/bm25 ``_indexed`` probes
# and the actual 100 TB dedup operating mode: corpus signatures are
# computed once (k longs per doc, independent of document size) and
# persisted BAND-PARTITIONED (r8 verdict ask #1); each new batch
# shingles only ITSELF, probes the buckets its own band hashes touch,
# and appends. Work per batch is O(batch + collisions), never
# O(corpus) — the corpus is NEVER re-shingled or re-hashed, and the
# probe's scans carry partition filters (both plan-pinned in
# tests/test_dedup.py::
# test_incremental_probe_plan_never_reshingles_corpus and
# test_banded_probe_plan_partition_prunes_both_scans).


@query(
    "minhash_incremental_dedup",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 5 <> 0) AS BIGINT)
             AS n_corpus_docs,
           CAST(count(*) FILTER (WHERE doc_id % 5 = 0) AS BIGINT)
             AS n_new_docs,
           TRUE AS probe_matches_rebuild
    FROM documents
    """,
    doc=(
        "incremental near-dup maintenance (operators/dedup."
        "write_banded_signature_table + "
        "incremental_minhash_candidates_banded): split documents "
        "into a persisted corpus (doc_id%5!=0, signatures written "
        "once to a fresh per-call BAND-PARTITIONED table — bands "
        "partitioned by pmod(xxhash64(band_idx, band_hash), K), "
        "sig sidecar by doc-id hash) and a new batch (doc_id%5==0) "
        "whose probe PARTITION-PRUNES both scans to the batch's "
        "touched buckets instead of scanning the corpus table. The "
        "probe's "
        "(new_id, old_id, est_jaccard) relation must equal the "
        "full-corpus LSH rebuild restricted to new-x-old pairs as an "
        "EXACT multiset (exceptAll both ways, estimate doubles "
        "included — counts/64 are dyadic, so double equality is "
        "exact), pinned TRUE beside DuckDB's corpus/batch count "
        "anchors. The reference re-loads every feed whole "
        "(nvd2mysqlloader.py:448-486, REPLACE INTO per row); this is "
        "the engine's answer at 100 TB: never touch the corpus to "
        "admit a batch."
    ),
)
def minhash_incremental_dedup(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.dedup import (
        incremental_minhash_candidates_banded, minhash_near_dups,
        minhash_signatures, write_banded_signature_table)
    from .sketch_queries import _shingled

    sh = _shingled(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        new_side = F.col("doc_id") % 5 == 0
        corpus, batch = sh.filter(~new_side), sh.filter(new_side)
        import time as _time

        from . import _phases
        from ._helpers import session_artifact
        # the signature table is written ONCE per session (the 100 TB
        # operating mode: corpus signatures persist, every batch
        # probes them); repeated calls probe the prebuilt artifact
        path, _, _t_build, _cached = session_artifact(
            ("minhash_sig", sf_dir),
            lambda p: write_banded_signature_table(corpus, p))

        # ONE signature pass serves both sides of the verdict (r12
        # optimization, same determinism argument as the maintenance/
        # rebucket probes): signatures are per-document, so the
        # all-docs relation filtered to the batch IS the batch's
        # signature relation, and the full rebuild reuses the same
        # checkpointed frame instead of re-running the explode +
        # 64-min aggregate over every document a second time.
        sigs_all = cut_lineage(minhash_signatures(sh))
        batch_sigs = sigs_all.filter(new_side)

        _t0 = _time.perf_counter()
        probed = incremental_minhash_candidates_banded(
            spark, path, batch, new_sigs=batch_sigs) \
            .select("new_id", "old_id", "est_jaccard")
        _phases.report("minhash_incremental_dedup", build_sec=_t_build,
                       build_cached=float(_cached),
                       probe_sec=_time.perf_counter() - _t0)
        # full-corpus rebuild truth, restricted to new-x-old pairs and
        # re-oriented (new first) to the probe's column contract
        full = minhash_near_dups(sh, threshold=0.5, sigs=sigs_all)
        a_new, b_new = F.col("id_a") % 5 == 0, F.col("id_b") % 5 == 0
        rebuilt = (full.filter(a_new & ~b_new)
                   .select(F.col("id_a").alias("new_id"),
                           F.col("id_b").alias("old_id"), "est_jaccard")
                   .unionAll(full.filter(b_new & ~a_new)
                             .select(F.col("id_b").alias("new_id"),
                                     F.col("id_a").alias("old_id"),
                                     "est_jaccard")))

        p_ = probed.persist(StorageLevel.MEMORY_AND_DISK)
        r_ = rebuilt.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_corpus = corpus.agg(
                F.count(F.lit(1)).alias("n_corpus_docs"))
            n_new = batch.agg(F.count(F.lit(1)).alias("n_new_docs"))
            n_diff = _mdiff(p_, r_, "n_diff")
            verdict = _one_row(n_corpus, n_new, n_diff).select(
                "n_corpus_docs", "n_new_docs",
                (F.col("n_diff") == 0).alias("probe_matches_rebuild"))
            return cut_lineage(verdict)
        finally:
            p_.unpersist()
            r_.unpersist()
    finally:
        sh.unpersist()


# ---------------------------------------------------------------------------
# 7. Small-file compaction on the oracle surface (r7 stretch #7) —
# the 100 TB table-maintenance mode. Micro-batch ingest accretes tiny
# files (the reference's per-feed REPLACE INTO has the same accretion
# shape in MySQL pages, nvd2mysqlloader.py:448-486); at scale the
# parquet answer is OPTIMIZE-style rewrite. The verdict pins the two
# contracted properties per round: the file count really dropped, and
# the compacted table is the SAME relation (exact multiset both ways).


@query(
    "compaction_maintenance",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS files_reduced,
           TRUE AS rows_identical,
           TRUE AS no_longer_worth_it
    FROM documents
    """,
    doc=(
        "operators/compaction.compact_parquet over a freshly "
        "fragmented copy of documents (48 single-file micro-appends "
        "into a per-call temp table): rewrite into ~target-byte "
        "files via one repartition job + atomic version publish "
        "(operators/table_io pointer flip — readers see old or new, "
        "never a mix). Verdict: after_files < before_files, the "
        "compacted relation equals the source as an EXACT multiset "
        "(exceptAll both ways), and plan_compaction reports the "
        "compacted table no longer worth_it (idempotence), beside "
        "DuckDB's row-count anchor."
    ),
)
def compaction_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.compaction import compact_parquet, plan_compaction

    docs = load_table(spark, sf_dir, "documents")
    tbl = _tmp_index("compact_tbl_")
    # simulate micro-batch accretion: 48 tiny appends, one file each
    docs.repartition(48).write.mode("overwrite").parquet(tbl)
    stats = compact_parquet(spark, tbl, target_bytes=64 * 1024 * 1024,
                            sort_by=["doc_id"])
    after = plan_compaction(tbl, target_bytes=64 * 1024 * 1024)

    src = docs.persist(StorageLevel.MEMORY_AND_DISK)
    out = spark.read.parquet(tbl).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_docs = src.agg(F.count(F.lit(1)).alias("n_docs"))
        n_diff = _mdiff(src, out, "n_diff")
        verdict = _one_row(n_docs, n_diff).select(
            "n_docs",
            F.lit(stats["after_files"] < stats["before_files"])
            .alias("files_reduced"),
            (F.col("n_diff") == 0).alias("rows_identical"),
            F.lit(not after["worth_it"]).alias("no_longer_worth_it"))
        return cut_lineage(verdict)
    finally:
        src.unpersist()
        out.unpersist()


# ---------------------------------------------------------------------------
# 8. LSH mega-bucket capping (r8 verdict ask #2) — the output-size
# pathology in banded dedup: a boilerplate cluster of B docs sharing
# a band bucket EMITS B²/2 candidate pairs from one bucket (at 100 TB
# a 100k-doc template cluster is 5x10^9 pairs) — AQE skew-split
# re-balances the join WORK but cannot shrink the OUTPUT. The capped
# mode (operators/dedup.lsh_candidate_pairs(bucket_cap=...))
# collapses over-cap buckets to a star from the bucket's min-id
# anchor: B−1 edges spanning exactly the members the clique spans, so
# the dedup-cluster answer (connected components) is UNCHANGED while
# emission drops from O(B²) to O(B). This verdict plants a
# pathological near-identical cluster beside the real corpus and pins
# every piece of that claim; scripts/stress_megabucket.py measures
# the blowup at sf0.1 (table in PLANS.md).


@query(
    "lsh_bucket_cap_clusters",
    oracle="""
    SELECT CAST(count(*) + 300 AS BIGINT) AS n_docs,
           CAST(44850 AS BIGINT) AS planted_pairs_uncapped,
           CAST(299 AS BIGINT) AS planted_pairs_capped,
           TRUE AS natural_buckets_under_cap,
           TRUE AS nonplanted_pairs_untouched,
           TRUE AS clusters_match
    FROM documents
    """,
    doc=(
        "LSH candidate generation with a bucket cap: plant a 300-doc "
        "IDENTICAL-text cluster (doc_id >= 10M) beside the corpus, "
        "run lsh_candidate_pairs uncapped and with bucket_cap=64, "
        "and pin: the planted cluster emits exactly C(300,2)=44850 "
        "pairs uncapped but exactly 299 star edges capped; every "
        "natural band bucket is at or under the cap (so the planted "
        "cluster is the ONLY over-cap source and 'untouched' is "
        "meaningful); pairs between natural docs are an EXACT "
        "multiset match across modes (exceptAll both ways); and "
        "connected components over capped pairs equal components "
        "over uncapped pairs as an exact (doc, component) multiset — "
        "the dedup-cluster answer is invariant under capping. "
        "DuckDB anchors the doc count and the two closed-form pair "
        "counts."
    ),
)
def lsh_bucket_cap_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..functions.text import shingle3_udf
    from ..operators.dedup import (_band_explode, lsh_candidate_pairs,
                                   minhash_signatures)
    from ..operators.graph import connected_components

    C, CAP, OFF = 300, 64, 10_000_000
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = ("synthetic boilerplate template cluster shared header "
              "navigation footer copyright subscribe unsubscribe terms "
              "privacy contact")
    planted = spark.range(C).select(
        (F.lit(OFF) + F.col("id")).alias("doc_id"),
        F.lit(boiler).alias("text"))
    all_docs = (docs.unionAll(planted)
                .repartition(spark.sparkContext.defaultParallelism))
    shingled = all_docs.select(
        "doc_id", shingle3_udf()("text").alias("s"))
    # the signature relation stays a LAZY expression: its ONLY
    # consumer is the band derivation right below (lsh_candidate_pairs
    # never touches `sigs` when `banded` is passed), so a separate
    # signature checkpoint materialized the same rows twice for
    # nothing — one eager checkpoint of the banded relation pays the
    # shingle+minhash pipeline exactly once (r13 optimization; the
    # banding is a narrow per-row map, results bit-identical)
    sigs = minhash_signatures(shingled)

    # ONE band explode serves both candidate modes AND the natural
    # max-bucket check below: banding is a deterministic per-row map
    # of the signatures (bucket_cap never enters it), so the three
    # consumers share a single checkpointed relation instead of
    # paying the explode per consumer (r12 optimization; results
    # bit-identical)
    banded = cut_lineage(sigs.select(
        "doc_id", _band_explode(16).alias("band_idx", "band_hash")))
    uncapped = lsh_candidate_pairs(sigs, banded=banded) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    capped = lsh_candidate_pairs(sigs, bucket_cap=CAP, banded=banded) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        plant = F.col("id_a") >= OFF   # id_a<id_b: both planted iff a is
        n_plant_un = uncapped.filter(plant).agg(
            F.count(F.lit(1)).alias("planted_pairs_uncapped"))
        n_plant_cap = capped.filter(plant).agg(
            F.count(F.lit(1)).alias("planted_pairs_capped"))

        nat_un = uncapped.filter(F.col("id_b") < OFF)
        nat_cap = capped.filter(F.col("id_b") < OFF)
        n_nat_diff = _mdiff(nat_un, nat_cap, "n_nat_diff")

        # largest NATURAL band bucket — the planted cluster must be
        # the only over-cap source for 'untouched' to be meaningful
        # (reads the shared banded relation: filtering it to natural
        # docs equals banding the filtered signatures, band hashes
        # being per-row)
        nat_max = (banded.filter(F.col("doc_id") < OFF)
                   .groupBy("band_idx", "band_hash")
                   .agg(F.count(F.lit(1)).alias("n"))
                   .agg(F.coalesce(F.max("n"), F.lit(0))
                        .alias("nat_max_bucket")))

        nodes = all_docs.select(F.col("doc_id").alias("id"))
        # ONE seed-label checkpoint for both CC runs: the seed depends
        # only on the vertex set, which capped and uncapped share
        # (r13 optimization, the seed_labels sharing contract)
        seed = cut_lineage(
            nodes.select(F.col("id").alias("node")).distinct()
            .withColumn("label", F.col("node")))

        def _cc(pairs: DataFrame) -> DataFrame:
            return connected_components(
                nodes, pairs.select(F.col("id_a").alias("src"),
                                    F.col("id_b").alias("dst")),
                seed_labels=seed)
        cc_un = _cc(uncapped).persist(StorageLevel.MEMORY_AND_DISK)
        cc_cap = _cc(capped).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_cc_diff = _mdiff(cc_un, cc_cap, "n_cc_diff")
            n_docs = all_docs.agg(F.count(F.lit(1)).alias("n_docs"))
            verdict = _one_row(n_docs, n_plant_un, n_plant_cap,
                               n_nat_diff, nat_max, n_cc_diff).select(
                "n_docs", "planted_pairs_uncapped",
                "planted_pairs_capped",
                (F.col("nat_max_bucket") <= CAP)
                .alias("natural_buckets_under_cap"),
                (F.col("n_nat_diff") == 0)
                .alias("nonplanted_pairs_untouched"),
                (F.col("n_cc_diff") == 0).alias("clusters_match"))
            return cut_lineage(verdict)
        finally:
            cc_un.unpersist()
            cc_cap.unpersist()
    finally:
        uncapped.unpersist()
        capped.unpersist()


# ---------------------------------------------------------------------------
# 9. Dedup-state maintenance (r8 verdict stretch #7) — the persisted
# signature table grows forever BY DESIGN (dedup state outlives any
# watermark) and accretes one file per touched partition dir per
# micro-batch append; at 100 TB/day that is the same small-files
# pathology compaction_maintenance handles for data tables, applied
# to the engine's own dedup state. This puts the state table's
# LIFECYCLE on the oracle surface: maintenance must be invisible to
# the probe.


@query(
    "signature_table_maintenance",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 5 <> 0
                                 AND doc_id % 2 = 0) AS BIGINT)
             AS n_corpus_docs,
           TRUE AS files_reduced,
           TRUE AS probe_identical,
           TRUE AS policy_compacted,
           TRUE AS policy_noop,
           TRUE AS policy_grew,
           CAST(64 AS BIGINT) AS n_buckets_after,
           TRUE AS probe_identical_after_growth
    FROM documents
    """,
    doc=(
        "operators/dedup.maintain_signature_table — the AUTO-GEOMETRY "
        "maintenance policy (r10 ask #5), deciding everything from "
        "the driver-side manifest, zero planning Spark jobs. The "
        "corpus side (doc_id%5!=0 and doc_id%2==0) is written as 4 "
        "micro-appends at n_buckets=16 (one file per touched dir per "
        "append — streaming-gate accretion shape), the batch "
        "(doc_id%5==0) probes it, then THREE policy passes run: "
        "(1) small-files pass (max_files_per_dir=2): the policy must "
        "CHOOSE to compact both subtables (policy_compacted), file "
        "count really drops (files_reduced), no rebucket, and the "
        "post-compaction probe equals the pre-compaction probe as an "
        "EXACT multiset (probe_identical — exceptAll both ways, "
        "estimates included); (2) healthy pass (loose thresholds): "
        "full no-op (policy_noop); (3) growth pass "
        "(target_rows_per_bucket=ceil(bands_rows/64)): the n_buckets "
        "∝ corpus rule must decide to MIGRATE 16→64 through the "
        "narrow power-of-two path (policy_grew, n_buckets_after=64 "
        "at EVERY sf by construction), and the post-migration probe "
        "is again an exact multiset match "
        "(probe_identical_after_growth). Maintenance must be "
        "invisible to dedup semantics; DuckDB anchors the corpus "
        "count and the target geometry. Partition pruning itself is "
        "plan-pinned in tests/test_dedup.py::"
        "test_banded_probe_plan_partition_prunes_both_scans."
    ),
)
def signature_table_maintenance(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..operators.compaction import list_data_files
    from ..operators.dedup import (_read_sig_meta, collect_band_keys,
                                   incremental_minhash_candidates_banded,
                                   maintain_signature_table,
                                   minhash_signatures, signature_rows,
                                   write_banded_signature_table)
    from .sketch_queries import _shingled

    # the shingled relation stays LAZY (no persist): the corpus side
    # feeds only the session-cached artifact build, so a persisted
    # full-corpus relation made every timed repetition re-shingle all
    # documents just to slice out the batch. The doc_id filter pushes
    # below the shingle UDF's project, so each consumer shingles only
    # the rows it reads: the batch signatures pay 1/5 of the corpus,
    # n_corpus counts the raw documents table (one row per doc, the
    # same count by construction of _shingled), and the cached build
    # still pays exactly one corpus pass on its only (warmup) run
    # (r12 optimization; outputs unchanged — shingling is
    # deterministic per document).
    sh_all = _shingled(spark, sf_dir)
    new_side = F.col("doc_id") % 5 == 0
    corpus_side = ~new_side & (F.col("doc_id") % 2 == 0)
    corpus = sh_all.filter(corpus_side)
    batch = sh_all.filter(new_side)
    docs_count_side = (load_table(spark, sf_dir, "documents")
                       .filter(corpus_side))
    # 4 micro-appends: the accretion shape a streaming gate
    # produces (the first write fills the buckets, each later append
    # lands one log file that every probe reads); hash-sliced so
    # every slice is nonempty (corpus ids are all even — a modular
    # split would leave half the slices empty).
    # The micro-appended PRISTINE state is a session-scoped
    # artifact (built once); compaction MUTATES, so each call
    # takes a cheap private copy and maintains THAT — the wall
    # keeps the copy + probes + compaction (the operator under
    # test), not the corpus-text signature construction.
    import time as _time

    from . import _phases
    from ._helpers import fresh_copy, session_artifact

    def _build(p: str) -> None:
        # slice hash SALTED with a literal so it is uncorrelated
        # with doc_bucket = xxhash64(doc_id) % 16, as real
        # streaming-gate batches are — the unsalted slice (h % 4)
        # is DETERMINED by the bucket (h % 16), so the first write
        # would fill only a quarter of the doc buckets and each log
        # file would hold another quarter's docs
        for k in range(4):
            write_banded_signature_table(
                corpus.filter(
                    F.pmod(F.xxhash64("doc_id", F.lit(11)),
                           F.lit(4)) == k),
                p, n_buckets=16)

    pristine, _, _t_build, _cached = session_artifact(
        ("sig_maint", sf_dir, 16, "salted"), _build)
    path, _t_copy = fresh_copy(pristine, "sig_maint_call")

    # batch signatures computed ONCE for all three probes: the
    # signature relation depends only on (shingles, num_perm) —
    # never on the bucket geometry the passes mutate — so the
    # three probes (before / after compaction / after growth)
    # share one checkpointed relation instead of paying the
    # explode + 64-min-aggregate job each (r12 optimization;
    # bit-identical by determinism of minhash_signatures). The
    # checkpoint is LAZY: the band-key collect below is its
    # materializing action, and the collected keys replace each
    # probe's touched-bucket job — band keys are n_buckets-
    # independent, so one collect serves the probe before AND
    # after the 16→64 growth migration (r13 optimization,
    # value-identity pinned in tests/test_dedup.py)
    batch_sigs = cut_lineage(minhash_signatures(batch), eager=False)
    band_keys = collect_band_keys(batch_sigs,
                                  _read_sig_meta(path)["bands"])

    def probe():
        # cut_lineage, not persist: probe results are HELD ACROSS
        # the policy passes' mutations (compaction publish, then
        # the growth migration) — a lazy or persisted-but-evicted
        # plan would recompute against moved version files (the
        # rebucket verdict's lesson, and measured here: the
        # post-compaction probe read FAILED_READ_FILE once the
        # growth pass republished)
        return cut_lineage(
            incremental_minhash_candidates_banded(
                spark, path, batch, new_sigs=batch_sigs,
                new_band_keys=band_keys)
            .select("new_id", "old_id", "est_jaccard"))

    _t0 = _time.perf_counter()
    before = probe()
    _t_probe = _time.perf_counter() - _t0
    def n_files() -> int:
        # the band index's files plus the signature reader's (the
        # sigs subtable and the log)
        return (len(list_data_files(f"{path}/bands"))
                + len(signature_rows(spark, path).inputFiles()))

    files_before = n_files()
    # policy pass 1 — small files: the first write left one file per
    # dir and the 3 appends 3 log files with rows for every dir, so a
    # dir counts 4 files, over max_files_per_dir=2: the policy must
    # CHOOSE to compact both subtables, folding the log in (and must
    # NOT rebucket: the growth target is loose)
    _t0 = _time.perf_counter()
    s1 = maintain_signature_table(spark, path,
                                  target_rows_per_bucket=10 ** 9,
                                  max_files_per_dir=2)
    _t_maint = _time.perf_counter() - _t0
    policy_compacted = (not s1["rebucketed"]
                        and sorted(s1["compacted"])
                        == ["bands", "sigs"])
    files_after = n_files()
    after = probe()
    # policy pass 2 — healthy table: loose thresholds, full no-op
    s2 = maintain_signature_table(spark, path,
                                  target_rows_per_bucket=10 ** 9,
                                  max_files_per_dir=64)
    policy_noop = not s2["rebucketed"] and not s2["compacted"]
    # policy pass 3 — growth: target = ceil(bands_rows/64) forces
    # the n_buckets ∝ corpus rule to migrate 16→64 (narrow
    # power-of-two split) AT EVERY SF — the target is derived
    # from the table's own manifest row count, so the decided
    # geometry is scale-invariant by construction
    _t0 = _time.perf_counter()
    s3 = maintain_signature_table(
        spark, path,
        target_rows_per_bucket=-(-s1["bands_rows"] // 64),
        max_files_per_dir=64)
    _t_grow = _time.perf_counter() - _t0
    _phases.report("signature_table_maintenance",
                   build_sec=_t_build, build_cached=float(_cached),
                   copy_sec=_t_copy, probe_sec=_t_probe,
                   maintain_sec=_t_maint, grow_sec=_t_grow)
    policy_grew = s3["rebucketed"] and s3["n_buckets"] == 64
    meta_n = _read_sig_meta(path)["n_buckets"]
    grown = probe()
    # count the raw documents table, not the shingled relation — same
    # value (one shingled row per document) without forcing the lazy
    # corpus-side shingle UDF just to count rows
    n_corpus = docs_count_side.agg(
        F.count(F.lit(1)).alias("n_corpus_docs"))
    n_diff = _mdiff(before, after, "n_diff")
    n_gdiff = _mdiff(before, grown, "n_gdiff")
    verdict = _one_row(n_corpus, n_diff, n_gdiff).select(
        "n_corpus_docs",
        F.lit(files_after < files_before)
        .alias("files_reduced"),
        (F.col("n_diff") == 0).alias("probe_identical"),
        F.lit(policy_compacted).alias("policy_compacted"),
        F.lit(policy_noop).alias("policy_noop"),
        F.lit(policy_grew).alias("policy_grew"),
        F.lit(meta_n).cast("long").alias("n_buckets_after"),
        (F.col("n_gdiff") == 0)
        .alias("probe_identical_after_growth"))
    # LAZY cut: every input is a checkpoint / literal / parquet count
    # (nothing here is unpersisted or mutated after return), so the
    # caller's single action materializes the one-row verdict — the
    # dedicated eager-checkpoint job per repetition was pure overhead
    # (r13 optimization)
    return cut_lineage(verdict, eager=False)


# ---------------------------------------------------------------------------
# 10. Probe-side admission cap (r9 verdict ask #1) — the last named
# dedup residual: a new batch colliding with a PERSISTED boilerplate
# cluster of B docs makes the banded incremental probe emit
# |batch|·B candidates (bounded — never corpus² — but unboundedly
# larger than the batch; at 100 TB a 100k-doc template cluster turns
# a 10k-doc batch into 10^9 candidate rows). With
# ``max_candidates_per_new`` set, over-cap corpus band-hash groups
# admit only their min-id anchor into the probe join (the
# lsh_bucket_cap_clusters star-collapse applied to the probe) and
# each new doc keeps at most that many admitted candidates. This
# verdict plants the pathology beside the real corpus and pins that
# everything the dedup GATE consumes is invariant;
# scripts/stress_probe_cap.py measures the emission/wall blowup the
# cap removes (table in PLANS.md).


@query(
    "probe_admission_cap",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 5 <> 0) + 300
                AS BIGINT) AS n_corpus_docs,
           CAST(count(*) FILTER (WHERE doc_id % 5 = 0) + 40
                AS BIGINT) AS n_new_docs,
           CAST(12000 AS BIGINT) AS planted_pairs_uncapped,
           CAST(40 AS BIGINT) AS planted_pairs_capped,
           TRUE AS planted_partner_is_anchor,
           TRUE AS natural_pairs_untouched,
           TRUE AS flagged_sets_equal,
           TRUE AS capped_subset_of_uncapped
    FROM documents
    """,
    doc=(
        "Banded-probe admission cap (operators/dedup."
        "incremental_minhash_candidates_banded(max_candidates_per_new"
        "=64)): persist the natural corpus (doc_id % 5 <> 0) plus a "
        "planted 300-doc IDENTICAL-text cluster (ids >= 10M) into a "
        "banded signature table, probe it with the natural batch "
        "(doc_id % 5 = 0) plus 40 planted near-identical probe docs "
        "(ids >= 20M), capped and uncapped. Pins: the planted "
        "collision emits exactly 40*300=12000 pairs uncapped but "
        "exactly 40 anchor pairs capped (every probe doc's sole "
        "partner IS the cluster's min-id anchor, so cluster "
        "assignment via the anchor's connected component equals the "
        "uncapped assignment); natural pairs are an EXACT multiset "
        "match across modes (exceptAll both ways); the set of new "
        "docs flagged >= threshold is unchanged; and the capped "
        "output is a subset of the uncapped output. DuckDB anchors "
        "the doc counts and both closed-form pair counts."
    ),
)
def probe_admission_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..functions.text import shingle3_udf
    from ..operators.dedup import (_read_sig_meta, collect_band_keys,
                                   incremental_minhash_candidates_banded,
                                   minhash_signatures,
                                   write_banded_signature_table)

    C, Q, CAP = 300, 40, 64
    OFF_C, OFF_Q = 10_000_000, 20_000_000
    boiler = ("synthetic boilerplate template cluster shared header "
              "navigation footer copyright subscribe unsubscribe terms "
              "privacy contact")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted_corpus = spark.range(C).select(
        (F.lit(OFF_C) + F.col("id")).alias("doc_id"),
        F.lit(boiler).alias("text"))
    planted_probes = spark.range(Q).select(
        (F.lit(OFF_Q) + F.col("id")).alias("doc_id"),
        F.lit(boiler).alias("text"))

    def sh(df: DataFrame) -> DataFrame:
        return df.select("doc_id", shingle3_udf()("text").alias("s"))

    corpus = sh(docs.filter(F.col("doc_id") % 5 != 0)
                .unionAll(planted_corpus)
                .repartition(spark.sparkContext.defaultParallelism))
    batch = cut_lineage(sh(docs.filter(F.col("doc_id") % 5 == 0)
                           .unionAll(planted_probes)))
    from . import _phases
    from ._helpers import session_artifact
    # corpus + planted cluster signatures persist once per session;
    # both probe modes below read the prebuilt table (the operating
    # mode — the cap is a PROBE-side knob, not a table property)
    path, _, _t_build, _cached = session_artifact(
        ("probe_cap", sf_dir),
        lambda p: write_banded_signature_table(corpus, p))
    _phases.report("probe_admission_cap", build_sec=_t_build,
                   build_cached=float(_cached))

    # batch signatures shared by both probe modes — the cap is a
    # probe-side knob, the signature relation is identical (r12
    # optimization: one explode + 64-min-aggregate job, not two).
    # LAZY cut + one band-key collect (its materializing action):
    # the cap never enters the banding, so the collected keys
    # replace both probes' touched-bucket jobs (r13 optimization)
    batch_sigs = cut_lineage(minhash_signatures(batch), eager=False)
    band_keys = collect_band_keys(batch_sigs,
                                  _read_sig_meta(path)["bands"])
    unc = incremental_minhash_candidates_banded(
        spark, path, batch, new_sigs=batch_sigs,
        new_band_keys=band_keys) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cap = incremental_minhash_candidates_banded(
        spark, path, batch, max_candidates_per_new=CAP,
        new_sigs=batch_sigs, new_band_keys=band_keys) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        plant = F.col("old_id") >= OFF_C
        n_plant_unc = unc.filter(plant).agg(
            F.count(F.lit(1)).alias("planted_pairs_uncapped"))
        plant_cap_stats = cap.filter(plant).agg(
            F.count(F.lit(1)).alias("planted_pairs_capped"),
            F.min(F.col("old_id") == OFF_C).alias("anchor_only"))
        nat_unc, nat_cap = unc.filter(~plant), cap.filter(~plant)
        n_nat_diff = _mdiff(nat_unc, nat_cap, "n_nat_diff")
        flagged_unc = unc.select("new_id").distinct()
        flagged_cap = cap.select("new_id").distinct()
        n_flag_diff = _mdiff(flagged_unc, flagged_cap, "n_flag_diff")
        n_extra = _mdiff(cap, unc, "n_extra", one_way=True)
        n_corpus = corpus.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
        n_new = batch.agg(F.count(F.lit(1)).alias("n_new_docs"))
        verdict = _one_row(n_corpus, n_new, n_plant_unc,
                           plant_cap_stats, n_nat_diff, n_flag_diff,
                           n_extra).select(
            "n_corpus_docs", "n_new_docs", "planted_pairs_uncapped",
            "planted_pairs_capped",
            F.col("anchor_only").alias("planted_partner_is_anchor"),
            (F.col("n_nat_diff") == 0).alias("natural_pairs_untouched"),
            (F.col("n_flag_diff") == 0).alias("flagged_sets_equal"),
            (F.col("n_extra") == 0).alias("capped_subset_of_uncapped"))
        return cut_lineage(verdict)
    finally:
        unc.unpersist()
        cap.unpersist()


# ---------------------------------------------------------------------------
# 11. Signature-table geometry migration (r9 verdict ask #3) — the
# banded table's production sizing policy is n_buckets ∝ corpus
# (constant pruned-probe scan bytes), but append geometry is frozen
# at first write; growing a live table 100× needs a migration that a
# prober can never observe half-applied. rebucket_signature_table
# rewrites both subtables under the new n_buckets and publishes
# data + meta.json + manifest.json with ONE atomic whole-table
# version flip (operators/table_io). This verdict pins the lifecycle:
# the probe is invariant across the migration, the geometry really
# changed, and the table keeps accepting appends at the new geometry.


@query(
    "signature_table_rebucket",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 5 <> 0)
                AS BIGINT) AS n_corpus_docs,
           CAST(16 AS BIGINT) AS n_buckets_before,
           CAST(48 AS BIGINT) AS n_buckets_after,
           TRUE AS probe_identical,
           TRUE AS meta_updated,
           TRUE AS layout_rebucketed,
           TRUE AS append_after_rebucket_ok
    FROM documents
    """,
    doc=(
        "operators/dedup.rebucket_signature_table over a live banded "
        "signature table: build at n_buckets=16 from two micro-"
        "appends of the corpus (doc_id % 5 <> 0, hash-sliced), probe "
        "with the batch (doc_id % 5 = 0), migrate to n_buckets=48, "
        "probe again — the probe result is an EXACT multiset match "
        "across the migration (exceptAll both ways, estimates "
        "included); meta.json reports the new geometry (it travels "
        "inside the published version, so geometry and data flip "
        "together); the manifest shows more band dirs than the old "
        "geometry could hold (the rewrite really redistributed); and "
        "an append at the NEW geometry lands and its docs surface as "
        "candidates in the next probe (probe-after-append is a "
        "superset of probe-before). DuckDB anchors the corpus count "
        "and both geometry constants."
    ),
)
def signature_table_rebucket(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.dedup import (_published, _read_sig_meta,
                                   collect_band_keys,
                                   incremental_minhash_candidates_banded,
                                   minhash_signatures,
                                   rebucket_signature_table,
                                   write_banded_signature_table)
    from .sketch_queries import _shingled

    # the shingled relation stays LAZY (no persist): the corpus side
    # feeds only the session-cached artifact build, so a persisted
    # full-corpus relation made every timed repetition re-shingle all
    # documents just to slice out the batch. The doc_id filter pushes
    # below the shingle UDF's project, so each consumer shingles only
    # the rows it reads: the batch signatures pay 1/5 of the corpus,
    # n_corpus counts the raw documents table (one row per doc, the
    # same count by construction of _shingled), and the cached build
    # still pays exactly one corpus pass on its only (warmup) run
    # (r12 optimization; outputs unchanged — shingling is
    # deterministic per document).
    new_side = F.col("doc_id") % 5 == 0
    sh_all = _shingled(spark, sf_dir)
    corpus, batch = sh_all.filter(~new_side), sh_all.filter(new_side)
    docs_count_side = (load_table(spark, sf_dir, "documents")
                       .filter(~new_side))
    import time as _time

    from . import _phases
    from ._helpers import fresh_copy, session_artifact

    # the 16-bucket PRISTINE table is a session-scoped artifact
    # (built once from corpus text); the migration MUTATES, so
    # each call migrates a cheap private copy — the wall keeps
    # copy + probes + the rebucket itself (the operator under
    # test), not the signature construction
    def _build(p: str) -> None:
        for k in range(2):
            write_banded_signature_table(
                corpus.filter(F.pmod(F.xxhash64("doc_id"),
                                     F.lit(2)) == k),
                p, n_buckets=16)

    pristine, _, _t_build, _cached = session_artifact(
        ("sig_rebucket", sf_dir, 16), _build)
    path, _t_copy = fresh_copy(pristine, "sig_rebucket_call")

    # batch signatures shared by all three probes (before / after
    # migration / after append): signatures depend only on
    # (shingles, num_perm), not on the bucket geometry the
    # migration changes — one checkpointed relation instead of
    # three explode + 64-min-aggregate jobs (r12 optimization).
    # LAZY cut + one band-key collect (its materializing action):
    # the collected keys replace every probe's touched-bucket job,
    # including across the 16→48 migration — band keys are
    # n_buckets-independent (r13 optimization)
    batch_sigs = cut_lineage(minhash_signatures(batch), eager=False)
    band_keys = collect_band_keys(batch_sigs,
                                  _read_sig_meta(path)["bands"])

    def probe():
        # cut_lineage, not persist: a probe result HELD ACROSS two
        # table mutations (the migration, then the append) must not
        # depend on files of a version the second publish prunes
        # (table_io keeps current + previous), and the next write's
        # cache-by-path invalidation would lazily RECOMPUTE a
        # persisted plan
        return cut_lineage(
            incremental_minhash_candidates_banded(
                spark, path, batch, new_sigs=batch_sigs,
                new_band_keys=band_keys)
            .select("new_id", "old_id", "est_jaccard"))

    _t0 = _time.perf_counter()
    before = probe()
    _t_probe = _time.perf_counter() - _t0
    _t0 = _time.perf_counter()
    stats = rebucket_signature_table(spark, path, 48)
    _phases.report("signature_table_rebucket", build_sec=_t_build,
                   build_cached=float(_cached), copy_sec=_t_copy,
                   probe_sec=_t_probe,
                   rebucket_sec=_time.perf_counter() - _t0)
    meta_ok = _read_sig_meta(path)["n_buckets"] == 48
    man = _published(path)[2]
    layout_ok = (stats["n_buckets_old"] == 16
                 and 16 < len(man["bands"]) <= 48)
    after = probe()
    # lifecycle continues: an append at the NEW geometry lands
    # and only ADDS candidates (same batch, larger corpus)
    write_banded_signature_table(batch.limit(3), path,
                                 n_buckets=48)
    grown = probe()
    # count the raw documents table, not the shingled relation — same
    # value (one shingled row per document) without forcing the lazy
    # corpus-side shingle UDF just to count rows
    n_corpus = docs_count_side.agg(
        F.count(F.lit(1)).alias("n_corpus_docs"))
    n_diff = _mdiff(before, after, "n_diff")
    n_missing = _mdiff(after, grown, "n_missing", one_way=True)
    verdict = _one_row(n_corpus, n_diff, n_missing).select(
        "n_corpus_docs",
        F.lit(stats["n_buckets_old"]).cast("long")
        .alias("n_buckets_before"),
        F.lit(stats["n_buckets_new"]).cast("long")
        .alias("n_buckets_after"),
        (F.col("n_diff") == 0).alias("probe_identical"),
        F.lit(meta_ok).alias("meta_updated"),
        F.lit(layout_ok).alias("layout_rebucketed"),
        (F.col("n_missing") == 0)
        .alias("append_after_rebucket_ok"))
    # LAZY cut — same argument as signature_table_maintenance: all
    # inputs are checkpoints/literals/parquet counts, so the caller's
    # single action materializes the verdict (one job saved per rep)
    return cut_lineage(verdict, eager=False)
