"""Sketch operators verified against their exact baselines — the
correctness story for the rows-only queries (no DuckDB oracle for
engine-specific hashes): recall / agreement bounds vs exact plans."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from nvd2mysqlloader_spark.functions.text import shingle3_udf, tokens
from nvd2mysqlloader_spark.operators.dedup import (lsh_candidate_pairs,
                                                   minhash_near_dups,
                                                   minhash_signatures,
                                                   simhash_near_dups)
from nvd2mysqlloader_spark.operators.similarity import ann_topk
from nvd2mysqlloader_spark.plans import QUERIES

from .conftest import SF_ORACLE


@pytest.fixture(scope="module")
def shingled(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    df = (docs.repartition(8)
          .select("doc_id", shingle3_udf()("text").alias("s")).cache())
    yield df
    df.unpersist()   # release module-scoped cache for later modules


@pytest.fixture(scope="module")
def exact_pairs(spark):
    """Exact n-gram Jaccard pairs (oracle-checked plan) as ground truth."""
    return {(r.id_a, r.id_b): r.jaccard
            for r in QUERIES["ngram_jaccard_pairs"].fn(spark, SF_ORACLE).collect()}


def test_minhash_estimates_track_exact(spark, shingled, exact_pairs):
    est = {(r.id_a, r.id_b): r.est_jaccard
           for r in minhash_near_dups(shingled, threshold=0.5).collect()}
    high = {p for p, j in exact_pairs.items() if j >= 0.8}
    assert high, "fixture should contain high-similarity pairs"
    found = high & set(est)
    assert len(found) / len(high) >= 0.8        # banding recall on strong dups
    for p in found:
        assert abs(est[p] - exact_pairs[p]) < 0.35   # estimator tracks truth


def test_minhash_signature_deterministic(spark, shingled):
    s1 = {r.doc_id: r.sig for r in minhash_signatures(shingled).collect()}
    s2 = {r.doc_id: r.sig for r in minhash_signatures(shingled).collect()}
    assert s1 == s2


def test_lsh_identical_docs_always_candidates(spark):
    df = spark.createDataFrame(
        [(1, ["a b c", "b c d", "c d e"]),
         (2, ["a b c", "b c d", "c d e"]),       # identical shingle set
         (3, ["x y z", "y z w", "z w v"])],
        ["doc_id", "s"])
    sigs = minhash_signatures(df)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_simhash_identical_zero_hamming(spark):
    docs = spark.createDataFrame(
        [(1, "spark merges shuffle partitions adaptively at runtime"),
         (2, "spark merges shuffle partitions adaptively at runtime"),
         (3, "completely different words about gardens and rivers flowing")],
        ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_near_dups(docs, "doc_id", tokens("text"),
                                        max_hamming=8).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_ann_recall_vs_bruteforce(spark):
    exact = QUERIES["cosine_topk"].fn(spark, SF_ORACLE).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    approx = ann_topk(emb, queries, k=10).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.4, f"ANN recall@10 too low: {avg:.2f} ({recalls})"


def test_approx_tally_close(spark):
    # rsd=0.02 → 3σ bound 6%; the query carries the verdict so the
    # DuckDB oracle can pin it (the sketch value itself is engine-specific)
    r = QUERIES["approx_tally"].fn(spark, SF_ORACLE).first()
    assert r.exact_keys > 0 and r.within_3sigma is True


def test_minhash_exact_verify_matches_allpairs(spark, shingled, exact_pairs):
    from nvd2mysqlloader_spark.operators.dedup import minhash_near_dups_exact
    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_near_dups_exact(shingled, threshold=0.5).collect()}
    # every verified candidate's jaccard equals the all-pairs truth
    for pair, jac in got.items():
        assert pair in exact_pairs
        assert abs(jac - exact_pairs[pair]) < 1e-12
    # and the strong pairs are recalled
    high = {p for p, j in exact_pairs.items() if j >= 0.8}
    assert len(high & set(got)) / len(high) >= 0.8


def test_minhash_exact_complete_ratio_equals_allpairs_truth(
        spark, shingled, exact_pairs):
    """The completeness guarantee behind the round-12 oracle
    graduation: with complete_ratio set, the verified output must
    EQUAL the all-pairs >=threshold truth exactly — even when banding
    is deliberately crippled (bands=1 -> one 64-row band, near-zero
    LSH recall), because the prefix-filter channel supplies every
    qualifying pair by theorem, not by measured recall."""
    from nvd2mysqlloader_spark.operators.dedup import minhash_near_dups_exact
    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_near_dups_exact(
               shingled, bands=1, threshold=0.5,
               complete_ratio=(1, 2)).collect()}
    truth = {p: j for p, j in exact_pairs.items() if j >= 0.5}
    assert set(got) == set(truth)
    for p in truth:
        assert abs(got[p] - truth[p]) < 1e-12


def test_minhash_exact_complete_ratio_must_match_threshold(spark, shingled):
    from nvd2mysqlloader_spark.operators.dedup import minhash_near_dups_exact
    with pytest.raises(ValueError, match="complete_ratio"):
        minhash_near_dups_exact(shingled, threshold=0.5,
                                complete_ratio=(4, 5))


def test_ivf_recall_beats_scan_fraction(spark):
    from nvd2mysqlloader_spark.operators.similarity import ivf_topk
    exact = QUERIES["cosine_topk"].fn(spark, SF_ORACLE).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = {}
    for r in ivf_topk(emb, queries, k=10, nlist=16, nprobe=4).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    # scans nprobe/nlist = 25% of the corpus; must beat that meaningfully
    assert avg >= 0.45, f"IVF recall {avg:.2f} ({recalls})"


def test_ivf_kmeans_centroids_match_or_beat_strided(spark):
    # Lloyd-trained centroids at the same nlist/nprobe beat the
    # strided seed once the corpus has enough vectors per list — run
    # at sf0.01 (2k vectors); at sf0.001 (~200) every seeding ties.
    # Deterministic data → stable recall values, not a flaky bound.
    sf = "/root/testdata/sf0.01"
    from nvd2mysqlloader_spark.operators import kmeans as km
    from nvd2mysqlloader_spark.operators.similarity import ivf_topk
    exact = QUERIES["cosine_topk"].fn(spark, sf).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        rs = [len(truth[q] & got.get(q, set())) / len(truth[q])
              for q in truth]
        return sum(rs) / len(rs)

    cents = km.init_centroids(emb, 16)
    for _ in range(5):
        cents = km.update_centroids(km.lloyd_assignments(emb, cents),
                                    cents)
    trained = recall(ivf_topk(emb, queries, k=10, nlist=16, nprobe=4,
                              centroids=cents))
    strided = recall(ivf_topk(emb, queries, k=10, nlist=16, nprobe=4))
    assert trained >= strided, (trained, strided)
    assert trained >= 0.5


def test_pq_recall_vs_bruteforce(spark):
    from nvd2mysqlloader_spark.operators.similarity import pq_topk
    exact = QUERIES["cosine_topk"].fn(spark, SF_ORACLE).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    approx = pq_topk(emb, queries, k=10).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    # every query returns a full top-k and the ADC+rescore pipeline
    # recalls a solid fraction of the exact neighbors despite 8-byte
    # codes (the rescore step guarantees returned cos_sim are exact)
    assert all(len(v) == 10 for v in got.values())
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.5, f"PQ recall@10 too low: {avg:.2f} ({recalls})"


def test_pq_codes_deterministic(spark):
    from nvd2mysqlloader_spark.operators.similarity import pq_topk
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    a = sorted(map(tuple, pq_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, pq_topk(emb, queries, k=5).collect()))
    assert a == b


def test_approx_quantiles_bounded(spark):
    # GK with accuracy=10000: rank error <= n/10000, translated to a
    # generous value tolerance inside the query (oracle pins the flags)
    r = QUERIES["approx_quantiles"].fn(spark, SF_ORACLE).first()
    assert (r.approx_ok_p50, r.approx_ok_p90, r.approx_ok_p99) == \
        (True, True, True)


# ---------------------------------------------------------------------------
# Band-PARTITIONED signature table (r8 verdict ask #1) — the pruned
# 100 TB operating mode behind minhash_incremental_dedup and the
# streaming gate.


@pytest.fixture()
def banded_split(spark, shingled, tmp_path):
    """Corpus/batch split with a banded signature table written for
    the corpus side."""
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table
    old = shingled.filter(F.col("doc_id") % 5 != 0)
    new = shingled.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "banded")
    write_banded_signature_table(old, path)
    return old, new, path


def test_incremental_minhash_matches_full_corpus(spark, shingled,
                                                banded_split):
    """The banded probe of a new batch against the persisted signature
    table finds exactly the full-corpus ``minhash_near_dups`` pairs
    between a new and an old document, with the same estimates —
    partitioning is a layout change, never a semantics change, and the
    corpus is never re-shingled."""
    from nvd2mysqlloader_spark.operators.dedup import \
        incremental_minhash_candidates_banded
    _old, new, path = banded_split
    got = {(r.new_id, r.old_id): r.est_jaccard
           for r in incremental_minhash_candidates_banded(
               spark, path, new).collect()}
    want = {}
    for r in minhash_near_dups(shingled, threshold=0.5).collect():
        a_new, b_new = r.id_a % 5 == 0, r.id_b % 5 == 0
        if a_new and not b_new:
            want[(r.id_a, r.id_b)] = r.est_jaccard
        elif b_new and not a_new:
            want[(r.id_b, r.id_a)] = r.est_jaccard
    assert want, "fixture produced no cross-batch collisions — vacuous"
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def _probe_table_plans(spark, banded_split):
    """The plans of every SQL execution a probe of ``banded_split``'s
    table ran that read the table (the other executions sign the new
    batch)."""
    from nvd2mysqlloader_spark.operators.dedup import \
        incremental_minhash_candidates_banded

    from .oracle_harness import executed_plans
    _old, new, path = banded_split
    with executed_plans(spark) as plans:
        got = incremental_minhash_candidates_banded(
            spark, path, new).collect()
    assert got, "fixture produced no collisions — vacuous"
    return [p for p in plans if "/bands" in p or "/sigs" in p]


def test_incremental_probe_plan_never_reshingles_corpus(spark,
                                                        banded_split):
    """Plan pin for the minhash_incremental_dedup operating mode, read
    from the plans the probe executed: every plan that reads the
    signature table reads the corpus side from it alone — no scan of
    the source documents, zero Python/Arrow eval nodes (the corpus is
    never re-shingled or re-hashed)."""
    table = _probe_table_plans(spark, banded_split)
    assert table
    for p in table:
        assert "documents.parquet" not in p, p
        assert "ArrowEvalPython" not in p, p
        assert "BatchEvalPython" not in p, p


def test_banded_probe_plan_partition_prunes_both_scans(
        spark, banded_split):
    """Plan pin for the pruned probe (r8 verdict ask #1), read from the
    plans the probe executed: exactly TWO scans of the signature table
    — the band index and the signature sidecar — and BOTH carry
    partition filters (the batch's touched band buckets / the
    candidates' doc buckets). The corpus is never fully read."""
    import re
    table = _probe_table_plans(spark, banded_split)
    scans = [d for p in table
             for d in re.split(r"\n\(\d+\) ", p)
             if d.startswith("Scan parquet")]
    assert len(scans) == 2, table
    pfs = [m for d in scans
           for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", d)]
    assert len(pfs) == 2, scans
    assert any("bucket" in p and "doc_bucket" not in p
               and ("INSET" in p or " IN " in p) for p in pfs), pfs
    assert any("doc_bucket" in p and ("INSET" in p or " IN " in p)
               for p in pfs), pfs


def test_banded_write_geometry_mismatch_fails_loudly(
        spark, banded_split):
    """An append whose geometry disagrees with the table's meta would
    make band hashes silently unmatchable — it must raise instead."""
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table
    old, _new, path = banded_split
    with pytest.raises(ValueError, match="geometry"):
        write_banded_signature_table(old, path, bands=8)
    with pytest.raises(ValueError, match="geometry"):
        write_banded_signature_table(old, path, batch_id=0)


def test_banded_probe_tolerates_meta_only_table(spark, shingled,
                                                tmp_path):
    """A first write whose batch had zero signable docs publishes a
    table with meta but no data dirs. The probe must treat that as an
    EMPTY corpus, not crash — the retry-idempotent gate depends on
    it."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded,
        write_banded_signature_table)
    path = str(tmp_path / "metaonly")
    write_banded_signature_table(shingled.filter(F.lit(False)), path)
    got = incremental_minhash_candidates_banded(
        spark, path, shingled.limit(5))
    assert got.count() == 0


def test_banded_keyed_retry_idempotent_and_epoch_probe(
        spark, shingled, tmp_path):
    """foreachBatch retry contract on the keyed table: re-writing the
    SAME batch_id leaves the table byte-identical (dynamic partition
    overwrite replaces exactly the batch's own partitions), and a
    probe with max_batch_id_exclusive=k sees only batches < k — so a
    retried batch's probe is independent of whether the failed
    attempt already appended this batch's signatures."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded, signature_rows,
        write_banded_signature_table)
    path = str(tmp_path / "keyed")
    batches = [shingled.filter(F.col("doc_id") % 3 == b)
               for b in range(3)]
    for b, df in enumerate(batches):
        write_banded_signature_table(df, path, batch_id=b)

    probe_before = sorted(map(tuple,
                              incremental_minhash_candidates_banded(
                                  spark, path, batches[2],
                                  max_batch_id_exclusive=2).collect()))
    sig_before = sorted(r.doc_id for r in
                        signature_rows(spark, path).collect())

    # retry batch 1 (its signatures are already in the table)
    write_banded_signature_table(batches[1], path, batch_id=1)

    sig_after = sorted(r.doc_id for r in
                       signature_rows(spark, path).collect())
    assert sig_after == sig_before
    probe_after = sorted(map(tuple,
                             incremental_minhash_candidates_banded(
                                 spark, path, batches[2],
                                 max_batch_id_exclusive=2).collect()))
    assert probe_after == probe_before

    # the epoch probe equals a probe of a table holding ONLY the
    # earlier batches — in-flight/own-batch signatures are invisible
    trunc = str(tmp_path / "trunc")
    for b in range(2):
        write_banded_signature_table(batches[b], trunc, batch_id=b)
    want = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, trunc, batches[2]).collect()))
    assert probe_before == want
    assert want, "no cross-batch collisions in fixture — vacuous"


def test_lsh_bucket_cap_star_collapse(spark):
    """Planted geometry for the capped candidate mode: a 4-doc
    identical cluster over cap=3 collapses to 3 star edges from the
    min-id anchor; a 2-doc cluster under the cap keeps its all-pairs
    emission byte-identical; connected components are invariant."""
    from nvd2mysqlloader_spark.operators.dedup import \
        minhash_signatures as ms
    from nvd2mysqlloader_spark.operators.graph import \
        connected_components

    rows = ([(i, "alpha beta gamma delta epsilon zeta eta theta")
             for i in (10, 11, 12, 13)]
            + [(i, "one two three four five six seven eight")
               for i in (1, 2)])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = docs.select("doc_id", shingle3_udf()("text").alias("s"))
    sigs = ms(sh)

    uncapped = {(r.id_a, r.id_b)
                for r in lsh_candidate_pairs(sigs).collect()}
    capped = {(r.id_a, r.id_b)
              for r in lsh_candidate_pairs(sigs,
                                           bucket_cap=3).collect()}
    assert uncapped == ({(1, 2)}
                        | {(a, b) for a in (10, 11, 12, 13)
                           for b in (10, 11, 12, 13) if a < b})
    assert capped == {(1, 2), (10, 11), (10, 12), (10, 13)}

    nodes = docs.select(F.col("doc_id").alias("id"))

    def cc(pairs):
        edges = spark.createDataFrame(
            sorted(pairs), "src long, dst long")
        return sorted(map(tuple,
                          connected_components(nodes, edges).collect()))

    assert cc(capped) == cc(uncapped)


def test_cosine_candidate_pairs_blocked_matches_broadcast(spark):
    """The blocked block-pair matmul (the 100 TB path: bounded task
    memory, no full-corpus gather) finds exactly the broadcast path's
    candidate set, pair for pair, at several block counts including
    the auto-count branch."""
    from nvd2mysqlloader_spark.operators.similarity import (
        cosine_candidate_pairs)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = sorted(map(tuple,
                      cosine_candidate_pairs(emb, 0.35, blocks=1).collect()))
    assert base, "threshold produced no pairs — test is vacuous"
    for B in (2, 5):
        got = sorted(map(tuple,
                         cosine_candidate_pairs(emb, 0.35, blocks=B).collect()))
        assert got == base, f"blocks={B} diverged"
    # auto path: tiny block_rows forces the blocked strategy via count()
    auto = sorted(map(tuple,
                      cosine_candidate_pairs(emb, 0.35,
                                             block_rows=100).collect()))
    assert auto == base


def test_pq_training_sample_bounded(spark):
    """Driver-side PQ training matrix is bounded by train_n regardless
    of corpus size, and the pipeline still returns full top-k when
    trained on a small sample."""
    from nvd2mysqlloader_spark.operators.similarity import (
        pq_topk, pq_training_sample)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    n = emb.count()
    mat = pq_training_sample(emb, train_n=32)
    assert mat.shape[0] == 32 < n
    # deterministic: same sample both times
    assert (mat == pq_training_sample(emb, train_n=32)).all()
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = {}
    for r in pq_topk(emb, queries, k=5, train_n=32).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(got) == 3 and all(len(v) == 5 for v in got.values())


def test_ann_signature_table_probe_matches_direct(spark, tmp_path):
    """Persisted-signature ANN (incremental operating mode: corpus
    encoded once, query batches probe) returns EXACTLY the direct
    ann_topk results — same hyperplanes, same bands, same candidates,
    same exact-cosine ranking — including for signatures appended in
    a second batch."""
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.operators.similarity import (
        ann_topk, ann_topk_from_signatures, write_ann_signature_table)

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    sig_path = str(tmp_path / "ann_sigs")
    # build in two batches — append is the incremental contract
    write_ann_signature_table(emb.filter(F.col("vec_id") % 2 == 0),
                              sig_path)
    write_ann_signature_table(emb.filter(F.col("vec_id") % 2 == 1),
                              sig_path)

    direct = sorted(map(tuple, ann_topk(emb, queries, k=10).collect()))
    probed = sorted(map(tuple, ann_topk_from_signatures(
        emb, sig_path, queries, k=10).collect()))
    assert probed == direct and len(direct) > 0


def test_semantic_dedup_matches_python_twin(spark):
    """semantic_dedup == a pure numpy/union-find twin applied to the
    same kmeans assignment (kmeans itself is pinned bit-exact to its
    numpy twin in test_kmeans): per-cluster all-pairs cosine >=
    threshold, transitive closure, min-id representative, keep flag
    for exactly the representatives."""
    import numpy as np

    from nvd2mysqlloader_spark.operators.kmeans import kmeans
    from nvd2mysqlloader_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got = {r.vec_id: (r.cluster, r.rep_id, r.keep)
           for r in semantic_dedup(emb, k=8, threshold=0.35).collect()}

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64)
                    for r in rows])
    mat /= np.clip(np.linalg.norm(mat, axis=1, keepdims=True),
                   1e-12, None)
    clus = {r.vec_id: r.cluster
            for r in kmeans(emb.select("vec_id", "embedding"),
                            k=8, iters=3).collect()}

    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    sims = mat @ mat.T
    ii, jj = np.nonzero(sims >= 0.35)
    for a, b in zip(ids[ii], ids[jj]):
        a, b = int(a), int(b)
        if a < b and clus[a] == clus[b]:
            ra, rb = find(a), find(b)
            if ra != rb:                 # smaller root stays the root,
                parent[max(ra, rb)] = min(ra, rb)   # so root == min id
    want = {int(i): (clus[int(i)], find(int(i)), find(int(i)) == int(i))
            for i in ids}
    assert got == want and len(got) == len(ids)
    # sanity: at threshold 0.35 the synthetic corpus HAS duplicates
    assert any(not k for _, _, k in got.values())


def test_ivf_index_probe_matches_direct(spark, tmp_path):
    """Persisted IVF index (VERDICT r5 #2): build once (centroids +
    vectors clustered into list_id partitions), append a second batch
    under the PERSISTED centroids, probe — results equal the direct
    ivf_topk with the same centroids exactly; and an append that
    passes different centroids is refused (mixed-centroid lists would
    silently miss neighbors)."""
    import numpy as np

    from nvd2mysqlloader_spark.operators.similarity import (
        ivf_topk, ivf_topk_from_index, write_ivf_index)

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    path = str(tmp_path / "ivf")
    cents = write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path,
                            nlist=16)
    # incremental append: second batch, centroids come from the index
    cents2 = write_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    assert np.array_equal(cents, cents2)

    direct = sorted(map(tuple, ivf_topk(
        emb, queries, k=10, nlist=16, nprobe=4,
        centroids=cents).collect()))
    probed = sorted(map(tuple, ivf_topk_from_index(
        path, queries, k=10, nprobe=4).collect()))
    assert probed == direct and len(direct) > 0

    with pytest.raises(ValueError, match="different centroids"):
        write_ivf_index(emb, path, centroids=cents + 1.0)
    with pytest.raises(ValueError, match="nlist=16"):
        write_ivf_index(emb, path, nlist=32)


def test_ivf_index_probe_plan_partition_prunes(spark, tmp_path):
    """The IVF index's 100 TB claim pinned in the plan: the probe's
    broadcast join against the query's nprobe list ids must plant a
    dynamic-partition-pruning subquery on the lists scan — the probe
    reads ~nprobe/nlist of the files because the LAYOUT is the filter,
    not a post-scan predicate."""
    from nvd2mysqlloader_spark.operators.similarity import (
        ivf_topk_from_index, write_ivf_index)

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivf_plan")
    write_ivf_index(emb, path, nlist=16)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    df = ivf_topk_from_index(path, q, k=10, nprobe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_pq_index_probe_matches_direct(spark, tmp_path):
    """Persisted PQ index (VERDICT r5 #2): codebooks trained once,
    codes appended per batch with the PERSISTED codebooks, probe reads
    codes instead of re-encoding — results equal the direct pq_topk
    with the same codebooks exactly; a shape-mismatched append is
    refused (its codes would be unreadable against the stored books)."""
    from nvd2mysqlloader_spark.operators.similarity import (
        pq_topk, pq_topk_from_index, write_pq_index)

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    path = str(tmp_path / "pq")
    books = write_pq_index(emb.filter(F.col("vec_id") % 2 == 0), path,
                           m=8, ksub=16)
    write_pq_index(emb.filter(F.col("vec_id") % 2 == 1), path,
                   m=8, ksub=16)

    direct = sorted(map(tuple,
                        pq_topk(emb, queries, k=10, books=books).collect()))
    probed = sorted(map(tuple, pq_topk_from_index(
        emb, path, queries, k=10).collect()))
    assert probed == direct and len(direct) > 0

    with pytest.raises(ValueError, match="mutually unreadable"):
        write_pq_index(emb, path, m=4, ksub=16)


def test_block_rows_dimension_aware(spark):
    """Judge r4 #1: one packed block row is rows·d float64s in a single
    JVM array (2 GB hard cap) — rows-per-block must shrink with the
    dimension. 256 MB budget: d=768 → 43 690 rows (~0.25 GB/block, two
    blocks/task ~0.5 GB); d=32 keeps the 200k cap."""
    from nvd2mysqlloader_spark.operators.similarity import (
        cosine_candidate_pairs, effective_block_rows)

    assert effective_block_rows(768) == (256 << 20) // (8 * 768) == 43690
    assert effective_block_rows(32) == 200_000          # low-dim cap
    assert effective_block_rows(1) == 200_000
    # monotone non-increasing in d, never zero
    assert effective_block_rows(10**9) == 1

    # pair-equality broadcast vs blocked AT THE DERIVED SIZE: shrink
    # the byte budget so the fixture corpus (d=32) derives a multi-
    # block plan through the auto path, and compare with blocks=1
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    d = len(emb.select("embedding").first()[0])
    n = emb.count()
    budget = 8 * d * max(1, n // 3)      # derive ~3+ blocks
    assert effective_block_rows(d, block_bytes=budget) < n
    base = sorted(map(tuple,
                      cosine_candidate_pairs(emb, 0.35, blocks=1).collect()))
    got = sorted(map(tuple,
                     cosine_candidate_pairs(emb, 0.35,
                                            block_bytes=budget).collect()))
    assert got == base and base


def test_pq_query_side_bounded_and_chunk_invariant(spark):
    """Judge r4 #3: the PQ query side is driver-collected and closure-
    broadcast — an oversized query batch must raise, not OOM; and the
    vectorized ADC gather must return identical results whatever the
    chunk size the byte budget induces."""
    import pytest as _pt

    from nvd2mysqlloader_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    with _pt.raises(ValueError, match="max_queries"):
        pq_topk(emb, queries, k=5, max_queries=3)

    # chunk-size invariance: a 1-byte budget degenerates to one query
    # per gather (the old per-query loop), results identical to the
    # full-batch gather
    full = sorted(map(tuple, pq_topk(emb, queries, k=5).collect()))
    tiny = sorted(map(tuple, pq_topk(emb, queries, k=5,
                                     gather_bytes=1).collect()))
    assert full == tiny and full


def test_cosine_pairs_empty_and_allnull_corpus(spark):
    """Review finding r5: the auto-blocks dimension probe must not
    crash on an empty or all-null-embedding corpus — both yield an
    empty pair set."""
    from pyspark.sql import types as T

    from nvd2mysqlloader_spark.operators.similarity import (
        cosine_candidate_pairs)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType()))])
    empty = spark.createDataFrame([], schema)
    assert cosine_candidate_pairs(empty, 0.5).count() == 0
    allnull = spark.createDataFrame([(1, None), (2, None)], schema)
    assert cosine_candidate_pairs(allnull, 0.5).count() == 0


def test_persisted_hll_sketch_table_incremental(spark, tmp_path):
    """Persisted mergeable distinct-count sketches: two batch appends
    over disjoint halves of orders, the merged estimate lands within
    the HLL error bound of the exact distinct over the UNION — the
    incremental tally that never rescans raw data. A mismatched-lgk
    append is refused at write time."""
    from nvd2mysqlloader_spark.operators.sketches import (
        distinct_estimate, write_distinct_sketch)

    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    path = str(tmp_path / "sk")
    write_distinct_sketch(orders.filter(F.col("o_orderkey") % 2 == 0),
                          path, "o_custkey")
    write_distinct_sketch(orders.filter(F.col("o_orderkey") % 2 == 1),
                          path, "o_custkey")

    est = distinct_estimate(spark, path).first()
    exact = orders.select("o_custkey").distinct().count()
    assert est["n_rows"] == orders.count()
    assert abs(est["approx_distinct"] - exact) <= max(1, 0.06 * exact)

    # grouped variant: per-priority sketches merge per group
    gpath = str(tmp_path / "skg")
    write_distinct_sketch(orders.filter(F.col("o_orderkey") % 2 == 0),
                          gpath, "o_custkey", ["o_orderpriority"])
    write_distinct_sketch(orders.filter(F.col("o_orderkey") % 2 == 1),
                          gpath, "o_custkey", ["o_orderpriority"])
    got = {r["o_orderpriority"]: r["approx_distinct"] for r in
           distinct_estimate(spark, gpath, ["o_orderpriority"]).collect()}
    want = {r["o_orderpriority"]: r["n"] for r in
            orders.groupBy("o_orderpriority")
            .agg(F.count_distinct("o_custkey").alias("n")).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= max(1, 0.06 * want[k]), (k, got[k])

    with pytest.raises(ValueError, match="lgk=14"):
        write_distinct_sketch(orders, path, "o_custkey", lgk=12)


def test_persisted_cms_sketch_table_incremental(spark, tmp_path):
    """Persisted mergeable count-min sketch: CMS is LINEAR, so a
    two-batch append over disjoint halves of events must produce the
    EXACT same estimates as a one-shot sketch of the union (groupBy-sum
    is the merge). Estimates never undershoot the true count, and with
    a wide enough sketch (no collisions) they are exactly the true
    count. Mismatched geometry appends are refused at write time."""
    from nvd2mysqlloader_spark.operators.sketches import (
        cms_point_estimate, write_cms_sketch)

    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    probes = events.select("user_id").distinct()
    exact = {r["user_id"]: r["n"] for r in
             events.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()}

    # incremental = one-shot, element for element
    inc, full = str(tmp_path / "cms_inc"), str(tmp_path / "cms_full")
    write_cms_sketch(events.filter(F.col("event_id") % 2 == 0),
                     inc, "user_id", depth=4, width=64)
    write_cms_sketch(events.filter(F.col("event_id") % 2 == 1),
                     inc, "user_id", depth=4, width=64)
    write_cms_sketch(events, full, "user_id", depth=4, width=64)
    got_inc = {r["user_id"]: r["est_count"] for r in
               cms_point_estimate(spark, inc, probes, "user_id").collect()}
    got_full = {r["user_id"]: r["est_count"] for r in
                cms_point_estimate(spark, full, probes, "user_id").collect()}
    assert got_inc == got_full
    # narrow sketch (64 buckets, ~150 keys): overshoot only, never under
    assert set(got_inc) == set(exact)
    assert all(got_inc[k] >= exact[k] for k in exact)

    # wide sketch: no collisions at this cardinality -> est == exact
    wide = str(tmp_path / "cms_wide")
    write_cms_sketch(events, wide, "user_id", depth=4, width=65536)
    got_wide = {r["user_id"]: r["est_count"] for r in
                cms_point_estimate(spark, wide, probes, "user_id").collect()}
    assert got_wide == exact

    # unseen probe key estimates 0 on the wide sketch
    ghost = spark.createDataFrame([(999_999_999,)], "user_id bigint")
    assert (cms_point_estimate(spark, wide, ghost, "user_id")
            .first()["est_count"]) == 0

    with pytest.raises(ValueError, match="depth=4"):
        write_cms_sketch(events, inc, "user_id", depth=5, width=64)
    with pytest.raises(ValueError, match="width=64"):
        write_cms_sketch(events, inc, "user_id", depth=4, width=128)


def test_weighted_cms_sketch(spark, tmp_path):
    """Weighted CMS (frequency = sum of a non-negative weight, e.g.
    bytes per key): same linearity (incremental == one-shot), same
    overshoot-only guarantee vs the exact weighted rollup, exact on a
    wide sketch."""
    from nvd2mysqlloader_spark.operators.sketches import (
        cms_point_estimate, write_cms_sketch)

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    exact = {r["lang"]: r["w"] for r in
             docs.groupBy("lang")
             .agg(F.sum("n_chars").alias("w")).collect()}
    probes = docs.select("lang").distinct()

    inc, wide = str(tmp_path / "wcms_inc"), str(tmp_path / "wcms_wide")
    write_cms_sketch(docs.filter(F.col("doc_id") % 2 == 0), inc,
                     "lang", depth=4, width=8, weight_col="n_chars")
    write_cms_sketch(docs.filter(F.col("doc_id") % 2 == 1), inc,
                     "lang", depth=4, width=8, weight_col="n_chars")
    one = str(tmp_path / "wcms_one")
    write_cms_sketch(docs, one, "lang", depth=4, width=8,
                     weight_col="n_chars")
    got_inc = {r["lang"]: r["est_count"] for r in
               cms_point_estimate(spark, inc, probes, "lang").collect()}
    got_one = {r["lang"]: r["est_count"] for r in
               cms_point_estimate(spark, one, probes, "lang").collect()}
    assert got_inc == got_one
    assert all(got_inc[k] >= exact[k] for k in exact)   # narrow: overshoot

    write_cms_sketch(docs, wide, "lang", depth=4, width=4096,
                     weight_col="n_chars")
    got_wide = {r["lang"]: r["est_count"] for r in
                cms_point_estimate(spark, wide, probes, "lang").collect()}
    assert got_wide == exact


def test_persisted_histogram_sketch_quantiles(spark, tmp_path):
    """Mergeable histogram quantiles: incremental appends estimate
    exactly like a one-shot sketch (bin counts are linear), and every
    estimate obeys the hard containment bound
    est <= percentile_disc < est + bin_width. Mismatched bin widths
    are refused at write time."""
    from nvd2mysqlloader_spark.operators.sketches import (
        histogram_quantile, write_histogram_sketch)

    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    qs = [0.5, 0.9, 0.99]

    inc, full = str(tmp_path / "h_inc"), str(tmp_path / "h_full")
    write_histogram_sketch(events.filter(F.col("event_id") % 2 == 0),
                           inc, "value", scale_bits=4)
    write_histogram_sketch(events.filter(F.col("event_id") % 2 == 1),
                           inc, "value", scale_bits=4)
    write_histogram_sketch(events, full, "value", scale_bits=4)
    got_inc = {r["q"]: r["est"]
               for r in histogram_quantile(spark, inc, qs).collect()}
    got_full = {r["q"]: r["est"]
                for r in histogram_quantile(spark, full, qs).collect()}
    assert got_inc == got_full and len(got_inc) == 3

    exact = events.agg(*[
        F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)")
        .alias(f"p{i}") for i, q in enumerate(qs)]).first()
    for i, q in enumerate(qs):
        est = got_inc[q]
        assert est <= exact[f"p{i}"] < est + 1.0 / 16, (q, est)

    # grouped variant merges per group
    g = str(tmp_path / "h_grp")
    write_histogram_sketch(events, g, "value", ["event_type"],
                           scale_bits=4)
    grouped = histogram_quantile(spark, g, [0.5], ["event_type"])
    per_type = {r["event_type"]: r["est"] for r in grouped.collect()}
    want = {r["event_type"]: r["m"] for r in events.groupBy("event_type")
            .agg(F.expr("percentile_disc(0.5) WITHIN GROUP "
                        "(ORDER BY value)").alias("m")).collect()}
    assert set(per_type) == set(want)
    for k in want:
        assert per_type[k] <= want[k] < per_type[k] + 1.0 / 16, k

    with pytest.raises(ValueError, match="scale_bits=4"):
        write_histogram_sketch(events, inc, "value", scale_bits=6)

    # regression: NULL values must not enter the histogram — a null
    # bin sorts first, inflates n, and breaks the containment bound
    # (percentile_disc ignores nulls)
    nulls = spark.createDataFrame([(None,), (1.0,), (2.0,), (3.0,)],
                                  "value double")
    npath = str(tmp_path / "h_null")
    write_histogram_sketch(nulls, npath, "value", scale_bits=4)
    est = histogram_quantile(spark, npath, [0.5]).first()["est"]
    assert est <= 2.0 < est + 1.0 / 16      # percentile_disc(0.5) == 2.0


def test_probe_admission_cap_planted_cluster(spark, tmp_path):
    """max_candidates_per_new on the banded probe: a planted
    boilerplate cluster of 30 identical corpus docs collapses to its
    min-id anchor (1 candidate per probing new doc instead of 30),
    natural pairs are byte-identical, and the flagged-new-doc set is
    unchanged."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded,
        write_banded_signature_table)

    boiler = ("lorem template header footer nav subscribe privacy "
              "terms contact about careers press blog help status")
    nat = [(i, f"natural document number {i} with some shared words "
            f"alpha beta gamma delta epsilon zeta token{i}")
           for i in range(10)]
    cluster = [(1000 + i, boiler) for i in range(30)]
    corpus = spark.createDataFrame(nat + cluster, "doc_id long, text string")
    probes = spark.createDataFrame(
        [(2000 + i, boiler) for i in range(5)]
        + [(2100, nat[3][1])],            # near-dup of natural doc 3
        "doc_id long, text string")

    def sh(df):
        return df.select(
            "doc_id",
            F.expr("transform(sequence(1, greatest(size(split(text, ' '))"
                   " - 2, 1)), i -> concat_ws(' ', slice(split(text, ' '),"
                   " i, 3)))").alias("s"))

    path = str(tmp_path / "capped")
    write_banded_signature_table(sh(corpus), path, n_buckets=16)
    unc = incremental_minhash_candidates_banded(
        spark, path, sh(probes)).collect()
    cap = incremental_minhash_candidates_banded(
        spark, path, sh(probes), max_candidates_per_new=4).collect()

    plant_unc = [r for r in unc if r["old_id"] >= 1000]
    plant_cap = [r for r in cap if r["old_id"] >= 1000]
    assert len(plant_unc) == 5 * 30          # every member, uncapped
    assert len(plant_cap) == 5               # anchor only, capped
    assert all(r["old_id"] == 1000 for r in plant_cap)
    assert all(r["est_jaccard"] == 1.0 for r in plant_cap)
    # natural pairs byte-identical across modes
    nat_unc = sorted(tuple(r) for r in unc if r["old_id"] < 1000)
    nat_cap = sorted(tuple(r) for r in cap if r["old_id"] < 1000)
    assert nat_unc == nat_cap
    assert any(r[0] == 2100 and r[1] == 3 for r in nat_cap)
    # flagged set invariant
    assert {r["new_id"] for r in unc} == {r["new_id"] for r in cap}
    # capped output is a subset of the uncapped output
    assert set(map(tuple, cap)) <= set(map(tuple, unc))


def test_rebucket_preserves_probe_and_updates_geometry(
        spark, banded_split):
    """rebucket_signature_table: probe-before == probe-after across a
    16→48 geometry change, meta.json flips atomically with the data,
    the manifest reflects the new layout, and appends at the NEW
    geometry succeed while the old geometry now fails loudly."""
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, _read_sig_meta, incremental_minhash_candidates_banded,
        rebucket_signature_table, write_banded_signature_table)
    old, new, path = banded_split          # written at n_buckets=64

    before = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect()))
    stats = rebucket_signature_table(spark, path, 48)
    assert stats["n_buckets_old"] == 64
    assert stats["n_buckets_new"] == 48
    assert _read_sig_meta(path)["n_buckets"] == 48
    man = _published(path)[2]
    assert man and len(man["bands"]) <= 48 and len(man["sigs"]) <= 48
    after = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect()))
    assert before == after and before

    # appends: old geometry rejected, new geometry accepted and visible
    import pytest as _pytest
    with _pytest.raises(ValueError, match="geometry"):
        write_banded_signature_table(new, path, n_buckets=64)
    write_banded_signature_table(new.limit(0), path, n_buckets=48)

    # idempotent no-op path
    again = rebucket_signature_table(spark, path, 48)
    assert again.get("skipped") is True


def test_probe_empty_paths_id_typed(spark, tmp_path):
    """All three empty-result paths must type new_id/old_id from the
    batch's id column, not hard-coded long — a string-keyed corpus
    returns string-typed empties (unionable with nonempty probes)."""
    from pyspark.sql import types as T

    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded,
        write_banded_signature_table)

    docs = spark.createDataFrame(
        [(f"doc-{i}", [f"a{i}", f"b{i}", f"c{i}"]) for i in range(6)],
        "doc_id string, s array<string>")
    path = str(tmp_path / "strkeyed")
    # path 1: meta-only table (empty first write)
    write_banded_signature_table(docs.limit(0), path)
    got = incremental_minhash_candidates_banded(spark, path, docs)
    assert got.schema["new_id"].dataType == T.StringType()
    assert got.schema["old_id"].dataType == T.StringType()
    assert got.count() == 0
    # path 2: unsignable batch (no buckets) against a real corpus
    write_banded_signature_table(docs, path)
    got2 = incremental_minhash_candidates_banded(
        spark, path, docs.limit(0))
    assert got2.schema["new_id"].dataType == T.StringType()
    assert got2.count() == 0
    # path 3: collision-less batch (disjoint shingle universe)
    other = spark.createDataFrame(
        [("zzz-1", ["q1", "q2", "q3"])], "doc_id string, s array<string>")
    got3 = incremental_minhash_candidates_banded(spark, path, other)
    assert got3.schema["old_id"].dataType == T.StringType()
    assert got3.count() == 0
    # and the nonempty case still works with string ids end-to-end:
    # same shingles under fresh ids collide with the stored corpus
    renamed = docs.withColumn(
        "doc_id", F.concat(F.lit("new-"), F.col("doc_id")))
    got4 = incremental_minhash_candidates_banded(spark, path, renamed)
    assert got4.count() == 6
    assert got4.unionAll(got3).count() == got4.count()


def test_rebucket_narrow_split_no_shuffle(spark, banded_split):
    """Multiple-of-old geometry (64→128) takes the NARROW split: the
    probe result is unchanged, stats report narrow=True, and every
    Spark job the migration ran is SINGLE-STAGE (a shuffle would
    split the rewrite into map+reduce stages) — the doubling
    migration moves the signature state without reshuffling it."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded, rebucket_signature_table)
    _old, new, path = banded_split          # written at n_buckets=64
    before = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect()))
    sc = spark.sparkContext
    sc.setJobGroup("narrow_rebucket", "narrow split")
    try:
        stats = rebucket_signature_table(spark, path, 128)
    finally:
        sc.setJobGroup(None, None)
    assert stats["narrow"] is True
    assert stats["n_buckets_new"] == 128
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("narrow_rebucket")
    assert jobs, "no jobs recorded for the migration"
    for j in jobs:
        info = tracker.getJobInfo(j)
        assert len(info.stageIds) == 1, (j, info.stageIds)
    after = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect()))
    assert before == after and before
    # non-multiple target: generic (shuffled) path, same relation
    stats2 = rebucket_signature_table(spark, path, 48)
    assert stats2["narrow"] is False
    again = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect()))
    assert again == before


def test_maintain_signature_table_policy(spark, shingled, tmp_path):
    """Manifest-driven maintenance: growth doubles n_buckets through
    the narrow path (probe invariant), micro-append accretion
    triggers subtable compaction (file counts drop, probe invariant),
    and a healthy table is a no-op."""
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, _read_sig_meta, incremental_minhash_candidates_banded,
        maintain_signature_table, write_banded_signature_table)
    old = shingled.filter(F.col("doc_id") % 5 != 0)
    new = shingled.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "maint")
    # 5 micro-appends at a small geometry: accretes files per dir
    for k in range(5):
        write_banded_signature_table(
            old.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == k),
            path, n_buckets=8)
    before = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect()))

    # growth trigger: tiny target forces doubling (8 -> multiple of 8)
    stats = maintain_signature_table(spark, path,
                                     target_rows_per_bucket=100)
    assert stats["rebucketed"] is True
    n1 = stats["n_buckets"]
    assert n1 > 8 and n1 % 8 == 0
    assert _read_sig_meta(path)["n_buckets"] == n1
    assert sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, new).collect())) == before

    # accrete again at the new geometry, then small-files trigger
    for k in range(3):
        write_banded_signature_table(
            new.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == k),
            path, n_buckets=n1)
    grown = sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, old.limit(10)).collect()))
    stats2 = maintain_signature_table(spark, path,
                                      target_rows_per_bucket=10**9,
                                      max_files_per_dir=2)
    assert stats2["rebucketed"] is False
    assert stats2["compacted"]
    man = _published(path)[2]
    assert all(v["files"] <= 2 for sub in ("bands", "sigs")
               for v in man[sub].values())
    assert sorted(map(tuple, incremental_minhash_candidates_banded(
        spark, path, old.limit(10)).collect())) == grown

    # healthy table: no-op
    stats3 = maintain_signature_table(spark, path,
                                      target_rows_per_bucket=10**9,
                                      max_files_per_dir=64)
    assert stats3["rebucketed"] is False and not stats3["compacted"]


def test_probe_cap_keeps_true_dup_behind_low_id_crowd(spark, tmp_path):
    """The per-new output cap must rank by similarity AFTER the
    threshold — a true near-dup at a high old_id must not be evicted
    by a crowd of low-id sub-threshold band collisions."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded,
        write_banded_signature_table)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    words = base.split()
    # corpus: 30 low-id docs sharing a few shingles with the probe
    # (band collisions, sub-threshold est) + ONE true dup at id 5000
    crowd = [(i, " ".join(words[:6]) + f" unique{i} " +
              " ".join(f"w{i}x{j}" for j in range(20)))
             for i in range(30)]
    true_dup = [(5000, base)]
    corpus = spark.createDataFrame(crowd + true_dup,
                                   "doc_id long, text string")
    probe = spark.createDataFrame([(9000, base)],
                                  "doc_id long, text string")

    def sh(df):
        return df.select(
            "doc_id",
            F.expr("transform(sequence(1, greatest(size(split(text,"
                   " ' ')) - 2, 1)), i -> concat_ws(' ',"
                   " slice(split(text, ' '), i, 3)))").alias("s"))

    path = str(tmp_path / "crowd")
    write_banded_signature_table(sh(corpus), path, n_buckets=16)
    unc = incremental_minhash_candidates_banded(
        spark, path, sh(probe), threshold=0.5).collect()
    cap = incremental_minhash_candidates_banded(
        spark, path, sh(probe), threshold=0.5,
        max_candidates_per_new=4).collect()
    assert any(r["old_id"] == 5000 for r in unc)
    assert any(r["old_id"] == 5000 for r in cap), \
        "true dup evicted by sub-threshold low-id crowd"
    assert {r["new_id"] for r in cap} == {r["new_id"] for r in unc}
    assert len(cap) <= 4


def _sh3(df):
    return df.select(
        "doc_id",
        F.expr("transform(sequence(1, greatest(size(split(text, ' '))"
               " - 2, 1)), i -> concat_ws(' ', slice(split(text, ' '),"
               " i, 3)))").alias("s"))


def _tree(path):
    """(name → inode, size, mtime) of every entry under the table's
    current version and beside the table — a write anywhere shows."""
    import os
    root = os.path.realpath(path)
    out = {}
    for base in (root, os.path.dirname(root)):
        for d, dirs, files in os.walk(base):
            for n in dirs + files:
                st = os.lstat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_ino, st.st_size,
                                           st.st_mtime_ns)
    return out


def _probe_hits(spark, path, doc_id, text):
    from nvd2mysqlloader_spark.operators.dedup import \
        incremental_minhash_candidates_banded
    probe = spark.createDataFrame([(doc_id, text)],
                                  "doc_id long, text string")
    return {r["old_id"] for r in incremental_minhash_candidates_banded(
        spark, path, _sh3(probe)).collect() if r["est_jaccard"] == 1.0}


_BATCH1 = [(i, f"first batch doc {i} alpha beta gamma delta epsilon")
           for i in range(4)]
_TARGET = "second batch target unique payload words here now ok yes"


def test_crashed_append_leaves_table_unchanged(spark, tmp_path,
                                               monkeypatch):
    """A writer that dies after staging and writing its version but
    before the publish leaves the published version — and every
    probe — unchanged; the next append sweeps the staged debris and
    lands."""
    import os

    import pytest as _pytest

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import (
        signature_rows, write_banded_signature_table)

    def mk(i, text):
        return _sh3(spark.createDataFrame([(i, text)],
                                          "doc_id long, text string"))

    path = str(tmp_path / "crash")
    write_banded_signature_table(
        _sh3(spark.createDataFrame(_BATCH1, "doc_id long, text string")),
        path, n_buckets=16)
    published = os.readlink(path)
    want = _probe_hits(spark, path, 900, _BATCH1[2][1])

    def crash(*a, **k):
        raise OSError("simulated crash")
    monkeypatch.setattr(table_io, "publish_version", crash)
    with _pytest.raises(OSError):
        write_banded_signature_table(mk(100, _TARGET), path, n_buckets=16)
    monkeypatch.undo()

    assert os.readlink(path) == published
    assert len(table_io.versions(path)) == 2     # the staged debris
    assert _probe_hits(spark, path, 900, _BATCH1[2][1]) == want
    assert not _probe_hits(spark, path, 901, _TARGET)

    write_banded_signature_table(mk(200, _TARGET), path, n_buckets=16)
    assert _probe_hits(spark, path, 901, _TARGET) == {200}
    ids = sorted(r.doc_id for r in signature_rows(spark, path).collect())
    assert ids == [0, 1, 2, 3, 200]


def test_capped_probe_distinct_sig_member_not_hidden(spark, tmp_path):
    """ADVICE r10 #2: an over-cap band-hash group is NOT always a
    near-identical cluster — a member whose full signature differs
    from the crowd's must keep its own anchor instead of being hidden
    behind the crowd's min-id anchor. The probe doc shares band
    hashes ONLY with the crowd's groups (it is an exact copy of the
    crowd text), so under the old single-anchor rule the
    different-sig member at id 5000 was unreachable."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded,
        write_banded_signature_table)

    base = ("template boilerplate header navigation footer copyright "
            "subscribe unsubscribe terms privacy contact about press "
            "careers status help blog sitemap search login register")
    # 30 sig-identical crowd docs at low ids + ONE member whose text
    # is the crowd's plus extra words: its minhash signature differs
    # at the positions the extras displace, but most band segments —
    # hence most band-hash groups — are still the crowd's.
    crowd = [(i, base) for i in range(30)]
    member = [(5000, base + " zzqx wvut extra unusual suffix words")]
    corpus = spark.createDataFrame(crowd + member,
                                   "doc_id long, text string")
    probe = spark.createDataFrame([(9000, base)],
                                  "doc_id long, text string")

    path = str(tmp_path / "distinct_sig")
    write_banded_signature_table(_sh3(corpus), path, n_buckets=16)

    unc = incremental_minhash_candidates_banded(
        spark, path, _sh3(probe), threshold=0.5).collect()
    # precondition: 5000 is genuinely similar and reachable through
    # the crowd's band groups (the probe's bands are exactly the
    # crowd's, so any path to 5000 runs through an over-cap group)
    assert any(r["old_id"] == 5000 and r["est_jaccard"] >= 0.5
               for r in unc), "fixture: member drifted out of range"

    cap = incremental_minhash_candidates_banded(
        spark, path, _sh3(probe), threshold=0.5,
        max_candidates_per_new=4).collect()
    # crowd collapses to its min-id anchor...
    anchors = [r for r in cap if r["old_id"] < 1000]
    assert anchors == [r for r in anchors if r["old_id"] == 0]
    assert any(r["old_id"] == 0 and r["est_jaccard"] == 1.0
               for r in cap)
    # ...but the different-sig member keeps its own anchor
    assert any(r["old_id"] == 5000 for r in cap), \
        "distinct-sig member hidden behind crowd anchor"
    assert len(cap) <= 4


def test_probe_during_live_append_serves_published_version(
        spark, tmp_path, monkeypatch):
    """A probe running while an append is in flight — its version
    staged and written, the writer lock held, the publish not yet
    done — serves the published version and leaves the writer's
    staged dir alone; once the writer publishes, the next probe sees
    the batch."""
    import threading

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table

    path = str(tmp_path / "live")
    write_banded_signature_table(
        _sh3(spark.createDataFrame(_BATCH1, "doc_id long, text string")),
        path, n_buckets=16)
    staged, go, errs = threading.Event(), threading.Event(), []
    real_publish = table_io.publish_version

    def held_publish(p, vdir, keep=2):
        staged.set()
        go.wait(300)
        real_publish(p, vdir, keep)
    monkeypatch.setattr(table_io, "publish_version", held_publish)

    def appender():
        try:
            df = spark.createDataFrame([(100, _TARGET)],
                                       "doc_id long, text string")
            write_banded_signature_table(_sh3(df), path, n_buckets=16)
        except Exception as e:          # surfaced to the main thread
            errs.append(e)
        finally:
            staged.set()

    t = threading.Thread(target=appender)
    t.start()
    try:
        assert staged.wait(300)
        vdir = table_io.versions(path)[-1][1]
        before = _tree(vdir)
        assert not _probe_hits(spark, path, 900, _TARGET)
        assert 2 in _probe_hits(spark, path, 901, _BATCH1[2][1])
        assert _tree(vdir) == before
    finally:
        go.set()
        t.join(300)
    assert not errs, errs
    assert _probe_hits(spark, path, 900, _TARGET) == {100}


def test_resolve_manifest_readonly_mount_serves_committed_data(
        spark, tmp_path, monkeypatch):
    """A probe takes no lock and writes nothing: against a table whose
    version dirs and the dir beside them are mode 0555, with
    ``fcntl.flock`` raising, it serves every committed batch and
    leaves the tree as it was (checked by inode/size/mtime, so the
    check holds for a user the mode does not stop)."""
    import fcntl
    import os

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table

    path = str(tmp_path / "romount")
    write_banded_signature_table(
        _sh3(spark.createDataFrame(_BATCH1, "doc_id long, text string")),
        path, n_buckets=16)
    write_banded_signature_table(
        _sh3(spark.createDataFrame([(100, _TARGET)],
                                   "doc_id long, text string")),
        path, n_buckets=16)
    dirs = [os.path.dirname(path)] + [
        d for _, vdir in table_io.versions(path)
        for d, _, _ in os.walk(vdir)]
    before = _tree(path)

    def no_flock(*a, **k):
        raise OSError(38, "Function not implemented")
    for d in dirs:
        os.chmod(d, 0o555)
    monkeypatch.setattr(fcntl, "flock", no_flock)
    try:
        assert _probe_hits(spark, path, 900, _TARGET) == {100}
        assert 2 in _probe_hits(spark, path, 901, _BATCH1[2][1])
    finally:
        monkeypatch.undo()
        for d in dirs:
            os.chmod(d, 0o755)
    assert _tree(path) == before


def _plain_dir(path, cur):
    os.unlink(path)
    shutil.copytree(cur, path)


def _edit_json(f, edit):
    with open(f) as fh:
        obj = json.load(fh)
    with open(f, "w") as fh:
        json.dump(edit(obj), fh)


def _no_sig_fp(path, cur):
    _edit_json(cur + "/meta.json",
               lambda m: {k: v for k, v in m.items() if k != "sig_fp"})


def _no_manifest(path, cur):
    os.remove(cur + "/manifest.json")


def _dirty_marker(path, cur):
    with open(cur + "/manifest.dirty", "w") as fh:
        json.dump({"writer_token": "dead"}, fh)


def _bare_int_manifest(path, cur):
    _edit_json(cur + "/manifest.json",
               lambda man: {sub: {d: v["rows"] for d, v in dirs.items()}
                            for sub, dirs in man.items()})


def _nested_symlink(path, cur):
    os.rename(cur + "/bands", cur + ".bands")
    os.symlink("../" + os.path.basename(cur) + ".bands", cur + "/bands")


@pytest.mark.parametrize("layout", [
    _plain_dir, _no_sig_fp, _no_manifest, _dirty_marker,
    _bare_int_manifest, _nested_symlink], ids=lambda f: f.__name__[1:])
def test_earlier_layout_fails_loudly(spark, tmp_path, layout):
    """Each signature-table layout an earlier build wrote — a plain
    directory, meta without sig_fp, a missing manifest, a
    manifest.dirty marker, bare-int manifest values, a subtable held
    as a symlink — is refused by the probe and by an append with a
    ValueError naming the path, and neither touches the tree."""
    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table

    path = str(tmp_path / "old")
    batch = _sh3(spark.createDataFrame(_BATCH1, "doc_id long, text string"))
    write_banded_signature_table(batch, path, n_buckets=16)
    layout(path, table_io.current_version(path))
    before = _tree(path)
    with pytest.raises(ValueError, match=re.escape(path)):
        _probe_hits(spark, path, 900, _BATCH1[2][1])
    with pytest.raises(ValueError, match=re.escape(path)):
        write_banded_signature_table(batch, path, n_buckets=16)
    assert _tree(path) == before


def test_concurrent_appends_serialize(spark, tmp_path):
    """VERDICT r11 ask #5: LIVE writers racing the same table must
    serialize on the blocking writer flock — every batch lands, each
    stages from the version the previous one published (a writer
    staging from a superseded version would drop the other's batch),
    and the final manifest equals a from-scratch filesystem scan. Six
    threads, more than the cores, each with its own lock fd (flock
    conflicts are per open-file-description, so same-process threads
    contend exactly like processes would)."""
    import sys
    import threading

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, _scan_manifest, write_banded_signature_table)

    path = str(tmp_path / "race")
    seed = spark.createDataFrame(
        [(0, "seed doc alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string")
    write_banded_signature_table(_sh3(seed), path, n_buckets=16)

    texts = {i: " ".join(f"racer{i}word{j}" for j in range(8))
             for i in range(1, 7)}
    errs = []

    def appender(i):
        try:
            df = spark.createDataFrame([(i, texts[i])],
                                       "doc_id long, text string")
            write_banded_signature_table(_sh3(df), path, n_buckets=16)
        except Exception as e:          # surfaced to the main thread
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,))
               for i in texts]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not errs, errs
    assert not any(t.is_alive() for t in threads), "writer deadlock"

    cur = table_io.current_version(path)
    assert cur.endswith(f".__v{1 + len(texts)}")   # one version each
    man = _published(path)[2]
    assert sum(v["rows"] for sub in ("sigs", "log")
               for v in man[sub].values()) == 1 + len(texts)
    # the maintained manifest equals a filesystem scan exactly
    assert man == _scan_manifest(cur)
    # every racer's doc is probe-visible
    for i, text in texts.items():
        assert i in _probe_hits(spark, path, 900 + i, text), \
            f"racer {i}'s batch invisible"


@pytest.mark.parametrize("mutation", ["rebucket", "compaction"])
def test_append_during_maintenance_is_kept(spark, tmp_path, monkeypatch,
                                           mutation):
    """An append that starts while a rebucket, or
    maintain_signature_table's compaction, has read its input but not
    yet published must not be dropped by that publish: after both
    finish, the published table holds the appended doc and a probe
    finds it. The append starts from a hook on the maintenance's
    publish, which goes on once the append has either finished or
    blocked on the table's writer lock; it is issued at the geometry
    the maintenance publishes (a writer that follows the migration)."""
    import fcntl
    import threading

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, maintain_signature_table, rebucket_signature_table,
        signature_rows, write_banded_signature_table)

    path = str(tmp_path / "maint_race")
    for k in range(2):              # two files per touched dir
        rows = [(i, t) for i, t in _BATCH1 if i % 2 == k]
        write_banded_signature_table(
            _sh3(spark.createDataFrame(rows, "doc_id long, text string")),
            path, n_buckets=8)
    late = "late arrival unique payload qqq rrr sss ttt uuu"
    settled, errs, appender = threading.Event(), [], {}
    real_flock, real_publish = fcntl.flock, table_io.publish_version

    def flock(fd, op):
        if threading.get_ident() == appender.get("id") \
                and op == fcntl.LOCK_EX:
            try:
                return real_flock(fd, op | fcntl.LOCK_NB)
            except BlockingIOError:
                settled.set()       # waiting for the maintenance
        return real_flock(fd, op)

    def append():
        appender["id"] = threading.get_ident()
        try:
            df = spark.createDataFrame([(500, late)],
                                       "doc_id long, text string")
            write_banded_signature_table(
                _sh3(df), path,
                n_buckets=16 if mutation == "rebucket" else 8)
        except Exception as e:      # surfaced to the main thread
            errs.append(e)
        finally:
            settled.set()

    def publish(p, vdir, keep=2):
        if "thread" not in appender:
            appender["thread"] = threading.Thread(target=append)
            appender["thread"].start()
            assert settled.wait(300)
        return real_publish(p, vdir, keep)

    monkeypatch.setattr(fcntl, "flock", flock)
    monkeypatch.setattr(table_io, "publish_version", publish)
    if mutation == "rebucket":
        rebucket_signature_table(spark, path, 16)
    else:
        stats = maintain_signature_table(
            spark, path, target_rows_per_bucket=10 ** 9,
            max_files_per_dir=1)
        assert stats["compacted"]
    appender["thread"].join(300)
    monkeypatch.undo()
    assert not errs, errs
    # the maintenance folded the earlier log into both subtables,
    # and the late append is the published version's whole log
    man = _published(path)[2]
    assert sum(v["rows"] for v in man["log"].values()) == 1
    bands = {r.doc_id for r in spark.read.parquet(f"{path}/bands")
             .select("doc_id").distinct().collect()}
    assert bands == {0, 1, 2, 3}, bands
    ids = sorted(r.doc_id for r in signature_rows(spark, path).collect())
    assert ids == [0, 1, 2, 3, 500], ids
    assert _probe_hits(spark, path, 900, late) == {500}


def test_every_mutation_publishes_one_whole_table_version(spark,
                                                          tmp_path):
    """First write, append, keyed write and retry, compaction and
    rebucket each publish exactly one version of the WHOLE table dir:
    the table path is a symlink to ``path.__vN`` with N one higher
    than before, no version dir holds a symlink, a nested version dir
    or a lock, and no manifest carries an epoch."""
    import json
    import os

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import (
        maintain_signature_table, rebucket_signature_table,
        write_banded_signature_table)

    def check(path, n):
        assert os.path.islink(path)
        assert os.readlink(path) == os.path.basename(path) + f".__v{n}"
        for _n, vdir in table_io.versions(path):
            for d, dirs, files in os.walk(vdir):
                for name in dirs + files:
                    assert not os.path.islink(os.path.join(d, name))
                    assert ".__v" not in name and name not in (
                        "manifest.dirty", "writer.lock"), (d, name)
            with open(vdir + "/manifest.json") as f:
                assert "epoch" not in json.load(f)

    def docs(ids):
        return _sh3(spark.createDataFrame(
            [(i, t) for i, t in _BATCH1 if i in ids],
            "doc_id long, text string"))

    path = str(tmp_path / "t")
    write_banded_signature_table(docs({0, 1}), path, n_buckets=8)
    check(path, 1)
    write_banded_signature_table(docs({2, 3}), path, n_buckets=8)
    check(path, 2)
    stats = maintain_signature_table(spark, path,
                                     target_rows_per_bucket=10 ** 9,
                                     max_files_per_dir=1)
    assert stats["compacted"]
    check(path, 3)
    rebucket_signature_table(spark, path, 16)
    check(path, 4)

    keyed = str(tmp_path / "k")
    write_banded_signature_table(docs({0, 1}), keyed, batch_id=0)
    check(keyed, 1)
    write_banded_signature_table(docs({0, 1}), keyed, batch_id=0)
    check(keyed, 2)


def test_lsh_candidate_pairs_shared_banded_identical(spark):
    """banded= sharing (r12): a pre-computed band relation must give
    byte-identical candidates in BOTH modes — banding is a per-row
    map of the signatures, never of bucket_cap."""
    from nvd2mysqlloader_spark.operators.dedup import _band_explode
    from nvd2mysqlloader_spark.operators.dedup import \
        minhash_signatures as ms

    rows = ([(i, "alpha beta gamma delta epsilon zeta eta theta")
             for i in (10, 11, 12, 13)]
            + [(i, "one two three four five six seven eight")
               for i in (1, 2)])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = ms(docs.select("doc_id", shingle3_udf()("text").alias("s")))
    banded = sigs.select(
        "doc_id", _band_explode(16).alias("band_idx", "band_hash")) \
        .localCheckpoint(eager=True)

    for cap in (None, 3):
        direct = sorted(map(tuple, lsh_candidate_pairs(
            sigs, bucket_cap=cap).collect()))
        shared = sorted(map(tuple, lsh_candidate_pairs(
            sigs, bucket_cap=cap, banded=banded).collect()))
        assert direct == shared and direct


def test_probe_band_keys_identical_across_geometries(
        spark, banded_split):
    """new_band_keys sharing (r13): the driver-side touched-bucket
    derivation (Python ``key % n_buckets`` over the collected band
    keys) must reproduce the probe's own Spark-side pmod bucket
    collect EXACTLY at any modulus, and the probe given pre-collected
    keys must return the exact multiset of the collect-per-probe
    path — before AND after a geometry migration (band keys are
    n_buckets-independent)."""
    from nvd2mysqlloader_spark.operators.dedup import (
        _band_explode, collect_band_keys,
        incremental_minhash_candidates_banded, minhash_signatures,
        rebucket_signature_table)

    _old, new, path = banded_split
    sigs = minhash_signatures(new).localCheckpoint(eager=True)
    keys = collect_band_keys(sigs, 16)
    assert keys
    banded = sigs.select(
        _band_explode(16).alias("band_idx", "band_hash"))
    for n in (16, 48, 64):
        spark_buckets = sorted({r["b"] for r in banded.select(
            F.pmod(F.xxhash64("band_idx", "band_hash"), F.lit(n))
            .cast("int").alias("b")).distinct().collect()})
        assert sorted({k % n for k in keys}) == spark_buckets, n

    def _probe(**kw):
        return sorted(map(tuple, incremental_minhash_candidates_banded(
            spark, path, new, new_sigs=sigs, **kw).collect()))

    want = _probe()
    assert want, "fixture produced no collisions — vacuous"
    assert _probe(new_band_keys=keys) == want
    rebucket_signature_table(spark, path, 48)   # keys survive migration
    assert _probe(new_band_keys=keys) == _probe() == want


def test_probe_rejects_band_keys_of_another_band_count(spark, shingled,
                                                       tmp_path):
    """ADVICE r13 #1: band keys collected at a band count other than
    the probed table's meta ``bands`` would prune the wrong buckets
    silently — the probe must raise instead, also for a plain list
    that does not say its band count; keys collected at the meta's
    count give exactly the collect-per-probe result."""
    from nvd2mysqlloader_spark.operators.dedup import (
        _read_sig_meta, collect_band_keys,
        incremental_minhash_candidates_banded, minhash_signatures,
        write_banded_signature_table)

    old = shingled.filter(F.col("doc_id") % 5 != 0)
    new = shingled.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "bands8")
    write_banded_signature_table(old, path, bands=8)
    sigs = minhash_signatures(new).localCheckpoint(eager=True)

    def _probe(**kw):
        return sorted(map(tuple, incremental_minhash_candidates_banded(
            spark, path, new, new_sigs=sigs, **kw).collect()))

    with pytest.raises(ValueError, match="bands"):
        _probe(new_band_keys=collect_band_keys(sigs, 16))
    with pytest.raises(ValueError, match="bands"):
        _probe(new_band_keys=list(collect_band_keys(sigs, 8)))
    keys = collect_band_keys(sigs, _read_sig_meta(path)["bands"])
    want = _probe()
    assert want, "fixture produced no collisions — vacuous"
    assert _probe(new_band_keys=keys) == want


# ---------------------------------------------------------------------------
# The append log: an append to an existing table writes only its
# batch's (doc_id, sig) rows, as one file under the version's log/;
# probes derive the log's band rows, and maintenance folds it in.


_BOILER = ("lorem template header footer nav subscribe privacy terms "
           "contact about careers press blog help status")


def _docs(spark, rows):
    return _sh3(spark.createDataFrame(rows, "doc_id long, text string"))


def _log_rows(path):
    from nvd2mysqlloader_spark.operators.dedup import _published
    return sum(v["rows"] for v in _published(path)[2]["log"].values())


def test_near_dup_in_the_log_is_found_capped_and_uncapped(spark,
                                                          tmp_path):
    """A near-dup that lives only in the log is found, capped and
    uncapped; and a boilerplate group split between the buckets (3
    docs) and the log (3 docs) is one group of 6 for the admission
    cap of 4: the star collapse runs over the union, so it admits
    only the group's min-id anchor (each half alone is under the
    cap and would pass all its members)."""
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, incremental_minhash_candidates_banded)
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table as write

    path = str(tmp_path / "logged")
    write(_docs(spark, _BATCH1 + [(300 + i, _BOILER) for i in range(3)]),
          path, n_buckets=16)
    write(_docs(spark, [(100, _TARGET)]
                + [(303 + i, _BOILER) for i in range(3)]),
          path, n_buckets=16)
    man = _published(path)[2]
    assert _log_rows(path) == 4
    assert sum(v["rows"] for v in man["sigs"].values()) == 7
    probe = _docs(spark, [(900, _TARGET), (901, _BOILER)])

    def hits(**kw):
        return sorted((r.new_id, r.old_id) for r in
                      incremental_minhash_candidates_banded(
                          spark, path, probe, **kw).collect()
                      if r.est_jaccard == 1.0)

    assert hits() == [(900, 100)] + [(901, 300 + i) for i in range(6)]
    assert hits(max_candidates_per_new=4) == [(900, 100), (901, 300)]


def _data_file_links(vdir):
    """{relpath: (inode, link count)} of every data file of a version."""
    out = {}
    for d, _dirs, files in os.walk(vdir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                st = os.stat(os.path.join(d, f))
                out[os.path.relpath(os.path.join(d, f), vdir)] = (
                    st.st_ino, st.st_nlink)
    return out


def test_small_append_writes_one_data_file(spark, tmp_path):
    """A small append adds exactly one data file to the table, under
    ``log/``; every bucket file of the new version is the previous
    version's inode, with the same link count (the new version links
    it in as the oldest retained version lets it go)."""
    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table as write

    path = str(tmp_path / "one_file")
    write(_docs(spark, _BATCH1), path, n_buckets=16)
    write(_docs(spark, [(100, _TARGET)]), path, n_buckets=16)
    before = _data_file_links(table_io.current_version(path))
    write(_docs(spark, [(101, _TARGET + " again")]), path, n_buckets=16)
    after = _data_file_links(table_io.current_version(path))
    new = set(after) - set(before)
    assert len(new) == 1 and new.pop().startswith("log/"), new
    assert set(before) <= set(after)
    for rel, (ino, nlink) in before.items():
        assert after[rel][0] == ino, rel
        if not rel.startswith("log/"):
            assert after[rel][1] == nlink, rel


def test_append_leaves_previous_commit_markers_alone(spark, tmp_path):
    """Spark's commit markers (``_SUCCESS``, ``._SUCCESS.crc``) are not
    carried into a staged version: a later write would rewrite them in
    place, so a shared marker would change the retained version. After
    an append, every marker of the previous version keeps its inode
    and mtime and is linked once."""
    import os

    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table as write

    path = str(tmp_path / "markers")
    write(_docs(spark, _BATCH1), path, n_buckets=16)
    write(_docs(spark, [(100, _TARGET)]), path, n_buckets=16)
    prev = table_io.current_version(path)

    def markers():
        out = {}
        for root, _dirs, files in os.walk(prev):
            for f in files:
                if f in ("_SUCCESS", "._SUCCESS.crc"):
                    st = os.stat(os.path.join(root, f))
                    out[os.path.relpath(os.path.join(root, f), prev)] = (
                        st.st_ino, st.st_mtime_ns, st.st_nlink)
        return out

    before = markers()
    assert "log/_SUCCESS" in before, before
    assert all(nlink == 1 for _ino, _mt, nlink in before.values()), before
    write(_docs(spark, [(101, _TARGET + " again")]), path, n_buckets=16)
    assert table_io.current_version(path) != prev
    assert markers() == before


def test_keyed_log_retry_keeps_one_copy(spark, tmp_path):
    """A keyed retry replaces its batch wherever it sits — the log, or
    the buckets after a fold — so each retry leaves one copy of its
    rows; a probe with ``max_batch_id_exclusive`` does not see the
    in-flight batch's log."""
    from nvd2mysqlloader_spark.operators.dedup import (
        incremental_minhash_candidates_banded, maintain_signature_table,
        signature_rows)
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table as write

    text = {i: f"keyed doc {i} " + " ".join(f"w{i}x{j}" for j in range(8))
            for i in range(9)}

    def batch(b):
        return _docs(spark, [(i, text[i]) for i in text if i % 3 == b])

    def ids():
        return sorted(r.doc_id for r in signature_rows(spark, path).collect())

    path = str(tmp_path / "keyed_log")
    for b in range(3):
        write(batch(b), path, batch_id=b)
    assert _log_rows(path) == 6
    write(batch(2), path, batch_id=2)                 # retry in the log
    assert ids() == list(range(9))
    assert _log_rows(path) == 6

    own = _docs(spark, [(900 + i, text[i]) for i in (2, 5, 8)])

    def probe(**kw):
        return sorted((r.new_id, r.old_id) for r in
                      incremental_minhash_candidates_banded(
                          spark, path, own, **kw).collect())
    assert probe() == [(902, 2), (905, 5), (908, 8)]
    assert probe(max_batch_id_exclusive=2) == []

    maintain_signature_table(spark, path, max_files_per_dir=1)
    assert _log_rows(path) == 0
    write(batch(1), path, batch_id=1)                 # retry after a fold
    write(batch(0), path, batch_id=0)                 # ... of the first write
    assert ids() == list(range(9))
    assert _log_rows(path) == 6
    assert probe(max_batch_id_exclusive=2) == []


def test_probe_identical_across_fold_and_rebucket(spark, shingled,
                                                  tmp_path):
    """The probe returns the same multiset, capped and uncapped, from
    a table whose appends sit in the log, after maintenance folds the
    log in, and after a rebucket that follows more appends — and the
    same as a table holding all the docs from one first write."""
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, incremental_minhash_candidates_banded,
        maintain_signature_table, rebucket_signature_table,
        write_banded_signature_table)

    old = shingled.filter(F.col("doc_id") % 5 != 0)
    new = shingled.filter(F.col("doc_id") % 5 == 0)
    part = F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(6))
    path, bulk = str(tmp_path / "folded"), str(tmp_path / "bulk")
    write_banded_signature_table(old, bulk, n_buckets=8)
    for k in range(3):
        write_banded_signature_table(old.filter(part == k), path,
                                     n_buckets=8)

    def probes(p):
        return [sorted(map(tuple, incremental_minhash_candidates_banded(
            spark, p, new, **kw).collect()))
            for kw in ({}, {"max_candidates_per_new": 2})]

    # the bulk table holds all of ``old``; the logged one first a half
    want = probes(bulk)
    assert want[0], "fixture produced no collisions — vacuous"
    for k in range(3, 6):
        write_banded_signature_table(old.filter(part == k), path,
                                     n_buckets=8)
    assert _log_rows(path) > 0
    assert probes(path) == want
    stats = maintain_signature_table(spark, path, max_files_per_dir=1)
    assert stats["compacted"] == ["bands", "sigs"]
    assert _log_rows(path) == 0
    assert probes(path) == want
    extra = new.filter(F.col("doc_id") % 2 == 0)
    for p in (path, bulk):
        write_banded_signature_table(extra, p, n_buckets=8)
    want = probes(bulk)
    assert _log_rows(path) > 0
    assert probes(path) == want
    rebucket_signature_table(spark, path, 16)
    assert _log_rows(path) == 0
    # each new dir holds its old dir's one file's image, and at most
    # one file of the log's rows
    man = _published(path)[2]
    assert max(v["files"] for sub in ("bands", "sigs")
               for v in man[sub].values()) <= 2
    assert probes(path) == want


def test_compaction_counts_the_log_files_per_dir(spark, tmp_path):
    """A subtable is compacted when one of its dirs holds more than
    ``max_files_per_dir`` files counting the log files with rows for
    that dir — not every log file: two one-doc appends whose docs
    fall in different doc buckets put 2 files' worth in each of their
    sigs dirs, under a limit of 2, while their band rows share bucket
    dirs (3 files' worth). Only ``bands`` is rewritten; the log is
    appended to ``sigs``, one file per dir it reaches."""
    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, _scan_manifest, maintain_signature_table)
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table as write

    path = str(tmp_path / "per_dir")
    write(_docs(spark, _BATCH1), path, n_buckets=8)
    man = _published(path)[2]
    assert {v["files"] for sub in ("bands", "sigs")
            for v in man[sub].values()} == {1}
    # two new ids in distinct doc buckets that already hold a file
    held = {int(rel.split("=")[1]) for rel in man["sigs"]}
    by_bucket = {}
    for r in spark.range(100, 200).select(
            "id", F.pmod(F.xxhash64("id"), F.lit(8)).alias("b")).collect():
        if r.b in held:
            by_bucket.setdefault(r.b, r.id)
    assert len(by_bucket) >= 2, by_bucket
    a, b = sorted(by_bucket.values())[:2]
    texts = {i: " ".join(f"doc{i}word{j}" for j in range(10)) for i in (a, b)}
    for i, text in texts.items():
        write(_docs(spark, [(i, text)]), path, n_buckets=8)

    def maintain(limit):
        return maintain_signature_table(spark, path,
                                        target_rows_per_bucket=10 ** 9,
                                        max_files_per_dir=limit)

    s = maintain(3)
    assert (s["compacted"], s["folded"]) == ([], 0)
    assert len(_published(path)[2]["log"]) == 2
    s = maintain(2)
    assert (s["compacted"], s["folded"]) == (["bands"], 2), s
    man = _published(path)[2]
    assert man["log"] == {}
    assert {v["files"] for v in man["bands"].values()} == {1}
    assert sorted(v["files"] for v in man["sigs"].values()) == (
        [1] * (len(man["sigs"]) - 2) + [2, 2])
    assert man == _scan_manifest(table_io.current_version(path))
    for i, text in texts.items():
        assert _probe_hits(spark, path, 900, text) == {i}


def test_fold_triggers_at_thresholds(spark, tmp_path):
    """Maintenance folds the log in — appends its rows to the dirs
    they fall in, rewriting no subtable — when the log holds more than
    ``max_files_per_dir`` files or more than ``target_rows_per_bucket``
    band rows (rows × bands), and not at either threshold. A keyed
    table's batches fall in dirs of their own, so no dir is over the
    file limit while the log is. ``bands_rows`` counts the log's rows
    as the band rows they stand for, and the probe does not change."""
    from nvd2mysqlloader_spark.operators import table_io
    from nvd2mysqlloader_spark.operators.dedup import (
        _published, _scan_manifest, maintain_signature_table)
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table as write

    path = str(tmp_path / "triggers")
    text = {i: f"{_TARGET} {i}" for i in range(100, 105)}
    write(_docs(spark, _BATCH1), path, n_buckets=8, batch_id=0)
    for b, i in enumerate((100, 101, 102), start=1):
        write(_docs(spark, [(i, text[i])]), path, n_buckets=8, batch_id=b)
    assert len(_published(path)[2]["log"]) == 3
    want = {i: _probe_hits(spark, path, 900, t) for i, t in text.items()}

    def maintain(**kw):
        return maintain_signature_table(spark, path, **{
            "target_rows_per_bucket": 10 ** 9, **kw})

    def folded():
        man = _published(path)[2]
        assert man["log"] == {}
        assert man == _scan_manifest(table_io.current_version(path))
        assert {i: _probe_hits(spark, path, 900, t)
                for i, t in text.items()} == want

    s = maintain(max_files_per_dir=3)
    assert (s["compacted"], s["folded"]) == ([], 0)
    assert s["bands_rows"] == 7 * 16
    s = maintain(max_files_per_dir=2)
    assert (s["compacted"], s["folded"], s["rebucketed"]) == ([], 3, False)
    assert s["bands_rows"] == 7 * 16
    folded()

    for b, i in ((4, 103), (5, 104)):
        write(_docs(spark, [(i, text[i])]), path, n_buckets=8, batch_id=b)
    want = {i: _probe_hits(spark, path, 900, t) for i, t in text.items()}
    # 2 log rows stand for 32 band rows; 9 docs' 144 band rows over 8
    # buckets stay under either target, so the growth trigger rests
    s = maintain(max_files_per_dir=64, target_rows_per_bucket=32)
    assert (s["compacted"], s["folded"]) == ([], 0)
    s = maintain(max_files_per_dir=64, target_rows_per_bucket=31)
    assert (s["compacted"], s["folded"], s["rebucketed"]) == ([], 2, False)
    folded()
