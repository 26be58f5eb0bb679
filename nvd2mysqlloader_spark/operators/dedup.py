"""Fuzzy-dedup operators — MinHash+LSH and SimHash, pure DataFrame ops.

The 100 TB path for near-dup detection (north-star, BASELINE.json):
exact all-pairs Jaccard (plans.text_queries.ngram_jaccard_pairs) is the
verification oracle; these sketches bound the candidate set so the
quadratic step only runs inside LSH buckets.

Everything is deterministic: shingles → ``xxhash64`` → k universal-hash
permutations ``(a_i·h + b_i) mod p`` (p = 2^31−1, a/b from a fixed
LCG) → per-doc min per permutation. Banding: signature split into
``bands`` chunks; docs sharing any chunk hash are candidates. All
JVM-side column expressions; the only shuffles are the doc-level
groupBy and the band-bucket self-join — no Python in the hot path.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

from . import table_io
from ._lineage import cut_lineage

_P = (1 << 31) - 1          # Mersenne prime modulus


def _perm_coeffs(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs from a tiny LCG — stable across runs
    and executors (no RNG state on the cluster)."""
    coeffs, x = [], seed
    for _ in range(num_perm):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = 1 + x % (_P - 1)
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % _P
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(shingled: DataFrame, id_col: str = "doc_id",
                       shingles_col: str = "s",
                       num_perm: int = 64) -> DataFrame:
    """(id, shingle array) → (id, sig array<long> of length num_perm).

    One explode + one groupBy(id) with ``num_perm`` min-aggregates —
    partial aggregation makes the shuffle carry only k longs per doc
    regardless of document size.
    """
    h = F.pmod(F.xxhash64(F.col("shingle")), F.lit(_P))
    ex = shingled.select(id_col, F.explode(shingles_col).alias("shingle")) \
                 .select(id_col, h.alias("h"))
    mins = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(_perm_coeffs(num_perm))]
    agg = ex.groupBy(id_col).agg(*mins)
    return agg.select(id_col,
                      F.array(*[F.col(f"m{i}") for i in range(num_perm)])
                      .alias("sig"))


def _band_explode(bands: int):
    """(band_idx, band_hash) posexplode expression over a ``sig``
    column — THE banding definition, shared by the batch self-join and
    the incremental probe so the persisted signature table can never
    drift out of band-compatibility with fresh queries. The band hash
    is xxhash64 over the band's slice of the signature."""
    sig_len = F.size("sig")
    r = F.floor(sig_len / bands)
    return F.posexplode(
        F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("sig"),
                                                 b * r + 1, r)))))


def collect_band_keys(sigs: DataFrame, bands: int,
                      id_col: str = "doc_id") -> list[int]:
    """Distinct ``xxhash64(band_idx, band_hash)`` values of a batch's
    band relation, collected to the driver — the band-key fingerprints
    from which the banded probe derives its touched-bucket list for
    ANY ``n_buckets`` (bucket = pmod(key, n_buckets); Python's ``%``
    IS pmod for a positive modulus, so the driver-side derivation is
    value-identical to the probe's own Spark-side collect). Bounded:
    ≤ |batch|·bands longs.

    Collect ONCE per (batch, bands) and pass the list to
    :func:`incremental_minhash_candidates_banded` via
    ``new_band_keys`` — a caller probing one batch repeatedly (the
    maintenance/rebucket/admission-cap verdicts probe 2-3 times,
    including across geometry migrations, which change ``n_buckets``
    but never the band keys) then skips the per-probe bucket-collect
    job (r13 optimization, guide §5 driver round-trips). MUST be
    computed at the probed table's meta ``bands`` — the returned list
    carries the ``bands`` it was computed at and the probe raises on a
    mismatch — and over the exact batch signatures the probe receives
    (the same agreement contract as ``new_sigs``/``num_perm``); pass
    ``sigs`` LAZY-cut and this collect doubles as its materializing
    action."""
    rows = (sigs.select(
        id_col, _band_explode(bands).alias("band_idx", "band_hash"))
        .select(F.xxhash64("band_idx", "band_hash").alias("k"))
        .distinct().collect())
    return _BandKeys(sorted(r["k"] for r in rows), bands)


class _BandKeys(list):
    """:func:`collect_band_keys`' sorted keys, tagged with the band
    count they were computed at."""

    def __init__(self, keys, bands: int):
        super().__init__(keys)
        self.bands = bands


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        bands: int = 16,
                        bucket_cap: int | None = None,
                        banded: DataFrame | None = None) -> DataFrame:
    """Band the signatures and self-join the buckets → distinct
    candidate pairs (id_a < id_b).

    The band hash is ``xxhash64`` over the band's slice of the
    signature; the join key is (band index, band hash) so only docs
    agreeing on a full band collide. AQE skew-split handles moderate
    bucket skew, but it only re-balances the JOIN WORK — a bucket of
    B near-identical docs (boilerplate at 100 TB: a 100k-doc
    template cluster) still EMITS B²/2 output pairs from one bucket,
    an output-size pathology no scheduler can fix.

    ``bucket_cap`` bounds it (r8 verdict ask #2): buckets with more
    than ``bucket_cap`` members are collapsed to a STAR — B−1 edges
    from the bucket's min-id anchor — instead of all-pairs emission.
    A star spans exactly the members a clique spans, so connected
    components over the capped pairs equal components over the
    uncapped pairs (the dedup-cluster answer is unchanged — pinned
    by the lsh_bucket_cap_clusters verdict query and
    tests/test_dedup.py), while emission drops from O(B²) to O(B).
    Pairs from buckets at or under the cap are byte-identical to the
    uncapped output. Star edges are CLUSTER edges: a per-pair
    Jaccard-estimate filter downstream would see only anchor-member
    pairs from over-cap buckets, so use the capped mode to feed
    connected components (dedup clustering), the uncapped mode when
    every pairwise estimate matters.

    ``banded``: optional PRE-COMPUTED band relation — a materialized
    (``id_col``, band_idx, band_hash) frame exactly as this function
    derives from ``sigs`` at the same ``bands``. The banding is a
    deterministic per-row map of the signatures (never of
    ``bucket_cap``), so a caller running BOTH modes over one
    signature set — the lsh_bucket_cap_clusters verdict compares
    capped vs uncapped — shares one explode + checkpoint instead of
    paying it per mode (the ``new_sigs``/``sigs`` sharing pattern;
    results bit-identical).
    """
    if banded is not None:
        # cheap driver-side contract check (ADVICE r12 #1): the
        # pre-computed relation must carry exactly the columns this
        # function would have derived; a frame built at different
        # bands is NOT detectable from schema — that agreement stays
        # the caller's obligation (documented above)
        missing = {id_col, "band_idx", "band_hash"} - set(banded.columns)
        if missing:
            raise ValueError(
                f"banded= relation is missing columns {sorted(missing)}")
    if banded is None:
        # build (id, band_idx, band_hash) rows; materialize once —
        # both self-join sides read the same blocks instead of
        # re-running the explode (+ everything upstream of ``sigs``
        # that isn't already cut). The join itself is a plain
        # equi-join on (band_idx, band_hash) — AQE picks broadcast at
        # small scale and a shuffle join with skew-split at 100 TB,
        # where a boilerplate mega-bucket would otherwise straggle.
        banded = cut_lineage(sigs.select(
            id_col, _band_explode(bands).alias("band_idx", "band_hash")))
    if bucket_cap is not None:
        # per-bucket size + min-id anchor: one partial-agg shuffle on
        # the same (band_idx, band_hash) key the self-join uses
        stats = (banded.groupBy("band_idx", "band_hash")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.min(id_col).alias("anchor")))
        # materialized: three consumers (both self-join sides + the
        # star branch) would otherwise re-run the aggregate shuffle
        # and join per consumer (AQE defeats ReuseExchange here — see
        # operators/_lineage.py)
        tagged = cut_lineage(banded.join(stats,
                                         ["band_idx", "band_hash"]))
        small = tagged.filter(F.col("n") <= bucket_cap) \
                      .select(id_col, "band_idx", "band_hash")
        # over-cap buckets: star edges (anchor, member) — anchor is
        # the bucket min so id_a < id_b holds by construction
        star = (tagged.filter((F.col("n") > bucket_cap)
                              & (F.col(id_col) != F.col("anchor")))
                .select(F.col("anchor").alias("id_a"),
                        F.col(id_col).alias("id_b")))
        a, b = small.alias("a"), small.alias("b")
        allpairs = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                           & (F.col("a.band_hash") == F.col("b.band_hash"))
                           & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                    .select(F.col(f"a.{id_col}").alias("id_a"),
                            F.col(f"b.{id_col}").alias("id_b")))
        return allpairs.unionAll(star).distinct()
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def minhash_near_dups(shingled: DataFrame, id_col: str = "doc_id",
                      shingles_col: str = "s", num_perm: int = 64,
                      bands: int = 16, threshold: float = 0.5,
                      sigs: DataFrame | None = None) -> DataFrame:
    """LSH candidates + signature-estimated Jaccard ≥ threshold.

    Estimated Jaccard = fraction of agreeing signature components
    (unbiased MinHash estimator). The exact-verify variant joins the
    candidates back to shingle sets instead — candidates × exact
    Jaccard is the production shape at scale.

    ``sigs``: optional PRE-COMPUTED materialized signatures (the
    exact relation :func:`minhash_signatures` yields for ``shingled``
    at ``num_perm``) — the same sharing contract as the ``new_sigs``
    probe parameter: signatures are a deterministic per-document
    function, so a caller that already owns them (e.g. a verdict
    comparing a probe against this full rebuild over one corpus)
    skips the explode + ``num_perm``-min aggregate here and the
    result is bit-identical.
    """
    # candidates first (ids only through the bucket shuffle), then join
    # the signatures back for the estimate — measured ~3× faster than
    # carrying the 64-long signatures through the band self-join
    if sigs is None:
        sigs = cut_lineage(
            minhash_signatures(shingled, id_col, shingles_col, num_perm))
    cand = lsh_candidate_pairs(sigs, id_col, bands)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                     lambda x, y: x == y),
                          lambda v: v)).cast("double") / num_perm
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", est.alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array: per-bit majority vote over the
    tokens' ``xxhash64`` values.

    Token hashing stays JVM-side (``transform`` + ``xxhash64``); the
    64-bit-position majority vote is a vectorized Arrow UDF (one numpy
    broadcast per batch) — bit-position shifts by a *column* amount
    aren't expressible with the built-in shift functions, and 64
    interpreted per-bit folds measured far slower.
    """
    @F.pandas_udf(T.LongType())
    def _pack(hash_arrays: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        weights = (np.uint64(1) << shifts)
        out = np.zeros(len(hash_arrays), dtype=np.uint64)
        for i, hs in enumerate(hash_arrays):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)       # (n_tok, 64)
            votes = 2 * bits.astype(np.int64) - 1
            out[i] = ((votes.sum(axis=0) > 0) * weights).sum()
        return pd.Series(out.astype(np.int64))

    return _pack(F.transform(tokens_col, lambda t: F.xxhash64(t)))


def simhash_near_dups(df: DataFrame, id_col: str, tokens_col: Column,
                      max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit quarters (a pair
    within hamming ≤ 3·16 shares ≥1 exact quarter by pigeonhole — for
    max_hamming ≤ 8 recall is high in practice), verify by popcount.

    ``bit_count(a XOR b)`` is the exact hamming distance; the quarter
    blocking keeps the self-join linear-ish instead of quadratic.
    """
    fp = cut_lineage(
        df.select(F.col(id_col), simhash64(tokens_col).alias("fp")))
    quarters = (fp.select(
        id_col, "fp",
        F.posexplode(F.array(*[
            F.shiftright("fp", q * 16).bitwiseAND(F.lit(0xFFFF))
            for q in range(4)]))
        .alias("q_idx", "q_val")))
    # one compute for both self-join sides (see operators/_lineage.py)
    quarters = cut_lineage(quarters)
    a, b = quarters.alias("a"), quarters.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (a.join(b, (F.col("a.q_idx") == F.col("b.q_idx"))
                   & (F.col("a.q_val") == F.col("b.q_val"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def prefix_filter_candidate_pairs(shingled: DataFrame,
                                  id_col: str = "doc_id",
                                  shingles_col: str = "s", *,
                                  t_num: int, t_den: int) -> DataFrame:
    """PPJoin-style prefix-filter candidate pairs (``id_a < id_b``)
    over distinct shingle sets — PROVABLY COMPLETE for Jaccard ≥
    t_num/t_den (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08): two
    sets with J ≥ t must share a token among their rarest-first
    prefixes of length |s| − ⌈t·|s|⌉ + 1, so indexing only the prefix
    slice loses no qualifying pair; the PPJoin length filter
    (t·max ≤ min) prunes before the distinct. Integer threshold
    arithmetic throughout (no IEEE ceil edge). This is the operator
    core behind ``plans.setsim_queries.prefix_filter_candidates``;
    it also supplies the completeness channel of
    :func:`minhash_near_dups_exact`."""
    from pyspark.sql import Window
    sh = (shingled.select(F.col(id_col).alias("doc_id"),
                          F.col(shingles_col).alias("s"))
          .withColumn("nsh", F.size("s")))
    ex = sh.select("doc_id", "nsh", F.explode("s").alias("shingle"))
    # document frequency as a COUNT window over the shingle key, not
    # groupBy + join-back: identical df values on every posting row,
    # one exchange of the postings instead of exchange + join (the
    # window's required sort is the sort the join would have paid)
    ranked = (ex.withColumn("df", F.count(F.lit(1)).over(
                  Window.partitionBy("shingle")))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy("df", "shingle"))))
    alpha = F.floor((F.lit(t_num) * F.col("nsh") + F.lit(t_den - 1))
                    / F.lit(t_den)).cast("long")
    prefix = ranked.filter(
        F.col("rn") <= F.col("nsh") - alpha + F.lit(1))
    prefix = cut_lineage(prefix.select("doc_id", "nsh", "shingle"))
    a, b = prefix.alias("a"), prefix.alias("b")
    len_ok = ((F.lit(t_den) * F.col("a.nsh")
               >= F.lit(t_num) * F.col("b.nsh"))
              & (F.lit(t_den) * F.col("b.nsh")
                 >= F.lit(t_num) * F.col("a.nsh")))
    return (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")) & len_ok)
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


def minhash_near_dups_exact(shingled: DataFrame, id_col: str = "doc_id",
                            shingles_col: str = "s", num_perm: int = 64,
                            bands: int = 16, threshold: float = 0.5,
                            complete_ratio: tuple[int, int] | None = None,
                            ) -> DataFrame:
    """The production near-dup shape at 100 TB: LSH candidates (cheap,
    high recall) + EXACT Jaccard verification only on candidates.

    The exact step intersects the two shingle arrays with
    ``array_intersect`` — O(candidates), not O(n²); results match the
    all-pairs ``ngram_jaccard_pairs`` query on every surviving pair.

    With ``complete_ratio=(t_num, t_den)`` (which must equal
    ``threshold``), the LSH candidates are unioned with the
    prefix-filter channel (:func:`prefix_filter_candidate_pairs`),
    which is provably complete for J ≥ t — the verified output then
    EQUALS the all-pairs ≥-threshold truth by the prefix-filter
    theorem, not by measured banding recall, making the relation
    SQL-replayable (VERDICT r11 ask #3). Verification still runs
    candidates-only; the union only widens the candidate set by the
    qualifying pairs banding happened to miss."""
    shingled = cut_lineage(shingled)
    sigs = cut_lineage(
        minhash_signatures(shingled, id_col, shingles_col, num_perm))
    cand = lsh_candidate_pairs(sigs, id_col, bands)
    if complete_ratio is not None:
        t_num, t_den = complete_ratio
        if abs(t_num / t_den - threshold) > 1e-12:
            raise ValueError(
                f"complete_ratio {t_num}/{t_den} != threshold "
                f"{threshold}; the completeness guarantee would not "
                "cover the verified cut")
        cand = cand.select("id_a", "id_b").unionAll(
            prefix_filter_candidate_pairs(
                shingled, id_col, shingles_col,
                t_num=t_num, t_den=t_den)).distinct()
    sa = shingled.select(F.col(id_col).alias("id_a"),
                         F.col(shingles_col).alias("s_a"))
    sb = shingled.select(F.col(id_col).alias("id_b"),
                         F.col(shingles_col).alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = (F.size("s_a") + F.size("s_b")
             - F.size(F.array_intersect("s_a", "s_b")))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# Incremental near-dup maintenance — the 100 TB operating mode.
#
# A full-corpus self-join per batch is O(corpus) every time; the
# production shape is a PERSISTED signature table (k longs per doc,
# independent of document size) maintained incrementally: each new
# batch computes signatures for ITS documents only, probes the
# signature table for candidates, and appends its own signatures. Work
# per batch is O(batch + collisions), never O(corpus).
#
# The table is BAND-PARTITIONED (r8 verdict ask #1) so the probe reads
# only the partitions the batch can possibly collide with, never the
# whole table — the same pattern as the inverted index's token-hash
# partition dirs (operators/inverted_index.py) and the IVF list layout
# (operators/similarity.py). Each table version holds:
#
# * ``bands/``  — (doc_id, band_idx, band_hash, sig_fp), partitioned
#   by ``bucket = pmod(xxhash64(band_idx, band_hash), n_buckets)``. The
#   probe touches only the buckets the NEW batch's band hashes fall
#   in: expected fraction read ≈ 1 − exp(−batch·bands / n_buckets),
#   so size n_buckets ≫ batch·bands and the candidate scan is a
#   pruned lookup, not a corpus scan.
# * ``sigs/``   — (doc_id, sig), partitioned by
#   ``doc_bucket = pmod(xxhash64(doc_id), n_buckets)``. Signatures
#   are stored ONCE per doc (not duplicated into every band row —
#   that would multiply signature bytes by ``bands``); the estimate
#   join fetches only the candidate old-ids' buckets, O(collisions)
#   of them.
# * ``log/``    — (doc_id, sig) of the batches appended since the last
#   fold, one file per append (``batch_id=B/`` dirs when keyed). An
#   append writes only this file: writing its rows into every bucket
#   dir they touch would land ~batch·bands tiny files per append.
#   Probes derive the log's band rows with the writer's own
#   expressions and read them beside the pruned bucket scans, so a
#   doc is found the same whether it sits in the log or in the
#   buckets; :func:`maintain_signature_table` moves the log's rows
#   into both subtables before the log outgrows one dir's file or row
#   limit.
# * ``meta.json`` — (num_perm, bands, n_buckets, keyed, sig_fp).
#   The probe derives EVERY geometry parameter from meta, so a
#   probe/table drift (band hashes sliced at different widths would
#   silently match nothing) is impossible by construction; appends
#   that disagree with meta fail loudly.
# * ``manifest.json`` — {sub: {leaf partition dir: {rows, files}}}
#   for the two subtables and {log file: {rows}} for the log, the
#   probe's dir discovery (no per-probe partition listing) and the
#   maintenance policy's input. A version without ``log/`` (an
#   earlier build's) reads as one with an empty log.
#
# Table state is ``operators/table_io``'s, nothing of its own: every
# mutation — first write, append, keyed retry, compaction, rebucket —
# takes the writer lock beside the table, stages the NEXT version dir
# (untouched subtables hardlinked in from the current one), writes its
# data, meta and manifest there, and publishes with one atomic pointer
# flip. Readers resolve the current version once and read meta,
# manifest and both scans from that one dir, so a probe is
# version-pinned, and a writer that dies before the flip leaves
# nothing any reader can see (``cleanup_stale`` sweeps its staged dir
# under the next writer's lock). This is the one layout read: a table
# in any other (an earlier build's) is refused with a ValueError
# naming its path, never read in a degraded mode or converted.
#
# ``batch_id`` keying (``keyed=True``): streaming gates append under
# foreachBatch, which is AT-LEAST-ONCE — a retried batch must not
# duplicate its signatures. Keyed writes add a leading ``batch_id``
# partition, and a keyed append first drops every staged copy of its
# batch (an earlier attempt's log file, or rows a fold or the first
# write put into the buckets), so a retry replaces exactly its own
# rows; probes can exclude the in-flight batch
# (``max_batch_id_exclusive``) at partition level, in the buckets and
# in the log alike, making the probe's view of the corpus identical
# across retries.


N_SIG_BUCKETS = 64
_SUBTABLES = ("bands", "sigs")
_BUCKET_COL = {"bands": "bucket", "sigs": "doc_bucket"}
_LOG = "log"


def _bucket(n_buckets: int) -> Column:
    """``bucket`` of a band row — one expression for the writer, the
    probe's touched-bucket list and its log rows, and the rewrites."""
    return F.pmod(F.xxhash64("band_idx", "band_hash"),
                  F.lit(n_buckets)).cast("int")


def _doc_bucket(n_buckets: int) -> Column:
    """``doc_bucket`` of a signature row."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _band_rows(sigs: DataFrame, bands: int, n_buckets: int) -> DataFrame:
    """(doc_id, band_idx, band_hash, sig_fp, bucket) band rows of
    (doc_id, sig) signature rows, any other column (``batch_id``)
    carried along: how the first write fills ``bands/``, how a probe
    reads the log's band rows, and how maintenance and a rebucket move
    the log into ``bands/``.

    ``sig_fp`` is an 8-byte xxhash64 fingerprint of the FULL
    signature stored on every band row, so the capped probe's star
    collapse can admit one anchor per DISTINCT signature inside an
    over-cap band-hash group without joining the sigs sidecar."""
    rest = [c for c in sigs.columns if c not in ("doc_id", "sig")]
    return (sigs.select("doc_id",
                        _band_explode(bands).alias("band_idx", "band_hash"),
                        F.xxhash64("sig").alias("sig_fp"), *rest)
            .withColumn("bucket", _bucket(n_buckets)))


def _log_rows(log: DataFrame, sub: str, bands: int,
              n_buckets: int) -> DataFrame:
    """The log's signature rows as subtable ``sub`` holds them, with
    its bucket column (``_BUCKET_COL[sub]``)."""
    if sub == "bands":
        return _band_rows(log, bands, n_buckets)
    return log.withColumn("doc_bucket", _doc_bucket(n_buckets))


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _read_sig_meta(path: str) -> dict | None:
    # plain JSON, not a parquet relation: geometry is DRIVER-side
    # metadata (a catalog property at scale) and a 1-row parquet
    # write/read costs two whole Spark jobs per append/probe
    # (measured 7.6 s for the write alone at sf0.1)
    return _read_json(path + "/meta.json")


def _data_files(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def _footer_rows(f: str) -> int:
    import pyarrow.parquet as pq
    return pq.ParquetFile(f).metadata.num_rows


def _dir_rows(d: str) -> dict:
    """{"rows", "files"} of one leaf partition dir from parquet
    footers — driver-side metadata reads, no Spark job. File counts
    feed the compaction policy (:func:`maintain_signature_table`);
    row counts feed the growth policy and observability."""
    files = _data_files(d)
    return {"rows": sum(_footer_rows(os.path.join(d, f)) for f in files),
            "files": len(files)}


def _log_manifest(vdir: str, known: dict) -> dict:
    """{file: {rows}} of every data file under the version's ``log/``;
    footers are read only for files not already in ``known``."""
    root, out = os.path.join(vdir, _LOG), {}
    for d, _dirs, _files in os.walk(root):
        for f in _data_files(d):
            rel = os.path.relpath(os.path.join(d, f), root)
            out[rel] = known.get(rel) or {
                "rows": _footer_rows(os.path.join(d, f))}
    return out


def _scan_manifest(vdir: str, appended: dict | None = None) -> dict:
    """Manifest of one staged version dir from the filesystem: leaf
    partition dir → {rows, files} per subtable (a leaf-dir walk plus
    footer reads), and the log's files. ``appended`` holds the
    previous manifest's entries of the subtables the mutation only
    added files to: a dir whose file count is unchanged keeps its
    entry, unread."""
    man = {}
    for sub in _SUBTABLES:
        root, known = os.path.join(vdir, sub), (appended or {}).get(sub, {})
        man[sub] = {}
        for d in (table_io.leaf_partition_dirs(root)
                  if os.path.isdir(root) else ()):
            full, v = os.path.join(root, d), known.get(d)
            man[sub][d] = (v if v and v["files"] == len(_data_files(full))
                           else _dir_rows(full))
    man[_LOG] = _log_manifest(vdir, {})
    return man


def _scan(spark, cur: str, sub: str, rels: list[str]) -> DataFrame:
    """Scan of ``rels`` — leaf dirs of a subtable, or log files — of
    version ``cur``'s ``sub``. The paths come from the manifest, so
    Spark lists none of the other dirs; basePath keeps the partition
    columns."""
    root = os.path.join(cur, sub)
    return spark.read.option("basePath", root).parquet(
        *[os.path.join(root, rel) for rel in sorted(rels)])


def _published(path: str) -> tuple[str, dict, dict] | None:
    """(version dir, meta, manifest) of the published version of the
    signature table at ``path``; None when nothing is there. The
    format check of every probe and mutation, a few stats and two
    small JSON reads: a table in any layout but the one this module
    writes (an earlier build's) raises a ValueError naming the path
    before anything is read or written."""
    if not os.path.lexists(path):
        return None
    cur = table_io.current_version(path) if os.path.islink(path) else None
    meta = cur and _read_sig_meta(cur)
    man = cur and _read_json(cur + "/manifest.json")
    why = ("is not a table_io version" if cur is None
           else "has no meta.json" if meta is None
           else "has no manifest.json" if man is None
           else "has no sig_fp band column" if not meta.get("sig_fp")
           else "carries a manifest.dirty marker"
           if os.path.exists(cur + "/manifest.dirty")
           else "holds a subtable as a symlink"
           if any(os.path.islink(os.path.join(cur, sub))
                  for sub in (*_SUBTABLES, _LOG))
           else "has manifest entries that are not {rows, files}"
           if not all(isinstance(v, dict) and {"rows", "files"} <= v.keys()
                      for sub in _SUBTABLES
                      for v in man.get(sub, {}).values())
           else None)
    if why:
        raise ValueError(
            f"signature table at {path} {why}: an earlier layout, "
            "which is not read; rebuild the table with "
            "write_banded_signature_table")
    return cur, meta, {sub: man.get(sub, {}) for sub in (*_SUBTABLES, _LOG)}


def signature_rows(spark, path: str) -> DataFrame | None:
    """(doc_id, sig) of every document in the published
    version of the signature table at ``path`` — its ``sigs``
    subtable plus its log; None when the version holds no signature
    file. The one reader of a table's signatures: nothing else should
    read ``sigs/`` alone, which misses the documents still in the
    log."""
    state = _published(path.rstrip("/"))
    if state is None:
        return None
    cur, _meta, man = state
    return _union([_scan(spark, cur, sub, list(man[sub]))
                   .select("doc_id", "sig")
                   for sub in ("sigs", _LOG) if man[sub]])


def _union(dfs: list[DataFrame]) -> DataFrame | None:
    """unionByName of ``dfs``; None for none."""
    out = None
    for df in dfs:
        out = df if out is None else out.unionByName(df)
    return out


@contextlib.contextmanager
def _locked_current(path: str):
    """ONE signature-table mutation: holds the table's writer lock
    (``table_io.writer_lock``, beside the table) from reading the
    current version until the caller publishes, so appends, keyed
    retries, compaction and rebucket serialize and none stages from a
    version another has since superseded. Checks the format, then
    sweeps crash debris; yields :func:`_published`'s (version dir,
    meta, manifest), None for a new table."""
    with table_io.writer_lock(path):
        state = _published(path)
        table_io.cleanup_stale(path)
        yield state


def _stage(path: str, cur: str | None,
           carry=(*_SUBTABLES, _LOG)) -> str:
    """Create the next (unpublished) version dir of ``path`` and
    hardlink the ``carry`` subtables of ``cur`` into it — O(files)
    link calls, no data copied (files are immutable: every mutation
    writes new ones). Meta and manifest are always written fresh."""
    vdir = table_io.next_version_dir(path)
    os.makedirs(vdir)
    for sub in carry if cur is not None else ():
        src = os.path.join(cur, sub)
        if os.path.isdir(src):
            table_io.link_tree(src, os.path.join(vdir, sub))
    return vdir


def _publish(path: str, vdir: str, meta: dict, man: dict) -> None:
    """Write meta and manifest into the staged ``vdir`` and flip the
    table pointer to it."""
    for name, obj in (("meta", meta), ("manifest", man)):
        with open(f"{vdir}/{name}.json", "w") as f:
            json.dump(obj, f, sort_keys=True)
    table_io.publish_version(path, vdir)


def write_banded_signature_table(shingled: DataFrame, path: str,
                                 id_col: str = "doc_id",
                                 shingles_col: str = "s",
                                 num_perm: int = 64, bands: int = 16,
                                 n_buckets: int = N_SIG_BUCKETS,
                                 batch_id: int | None = None) -> None:
    """Append a batch's MinHash signatures to the band-partitioned
    table at ``path`` (creating it on first write). See the layout
    comment above; ``batch_id`` keys the write for foreachBatch
    retry idempotence (a retry replaces the batch's own rows).

    The first write of a table fills both bucketed subtables. Every
    later append writes only the batch's (doc_id, sig) rows into the
    version's ``log/``: one file for a small batch
    (``table_io.sized_for_write``), footer-counted into the manifest
    without a Spark job, and read by probes beside the buckets until
    :func:`maintain_signature_table` folds it in.

    Each call publishes ONE new version of the whole table (see the
    layout comment): concurrent appends — and an append racing
    maintenance or a rebucket — serialize on the writer lock, each
    staging from the version the previous one published, so no batch
    is lost (pinned by tests/test_dedup.py::
    test_concurrent_appends_serialize and
    test_append_during_maintenance_is_kept). Multi-HOST writers need
    a real catalog — flock does not span NFS/object stores."""
    path = path.rstrip("/")
    keyed = batch_id is not None
    got = {"num_perm": num_perm, "bands": bands,
           "n_buckets": n_buckets, "keyed": keyed, "sig_fp": True}
    sigs = minhash_signatures(shingled, id_col, shingles_col,
                              num_perm).select(
        F.col(id_col).alias("doc_id"), "sig")
    if keyed:
        sigs = sigs.withColumn("batch_id", F.lit(batch_id).cast("long"))
    parts = ["batch_id"] if keyed else []

    with _locked_current(path) as state:
        cur, meta, man = state or (None, None, None)
        if meta is not None and meta != got:
            raise ValueError(
                f"banded signature table at {path} has geometry "
                f"{meta} but the write was called with {got}; a "
                "mismatched append would make band hashes "
                "unmatchable")
        vdir = _stage(path, cur)
        if cur is None:
            # signatures computed ONCE for both writes (the sidecar
            # and the band index derive from the same relation). Sigs
            # first, bands second: every published version must hold
            # bands ⊆ sigs — a band row with no sig silently drops
            # from the sidecar join
            sigs = cut_lineage(sigs)
            for sub, df, col in (
                    ("sigs", sigs.withColumn("doc_bucket",
                                             _doc_bucket(n_buckets)),
                     "doc_bucket"),
                    ("bands", _band_rows(sigs, bands, n_buckets),
                     "bucket")):
                # co-locate each partition dir's rows in ONE task
                # before the partitionBy write: without this every
                # task writes a file into every dir it touches
                (df.repartition(F.col(col)).write
                 .partitionBy(*parts, col).parquet(f"{vdir}/{sub}"))
            # a new table's manifest is just this batch's dirs: a
            # scan of the staged version, no Spark job
            man = _scan_manifest(vdir)
        else:
            if keyed:
                # a retry replaces its batch: drop every staged copy
                # of it first — an earlier attempt's log file, or its
                # rows a fold or the first write put into the buckets
                own = f"batch_id={batch_id}"
                for sub in man:
                    shutil.rmtree(os.path.join(vdir, sub, own),
                                  ignore_errors=True)
                    man[sub] = {rel: v for rel, v in man[sub].items()
                                if rel.split("/")[0] != own}
            (table_io.sized_for_write(sigs).write.mode("append")
             .partitionBy(*parts).parquet(f"{vdir}/{_LOG}"))
            man[_LOG] = _log_manifest(vdir, man[_LOG])
            for rel in [r for r, v in man[_LOG].items() if not v["rows"]]:
                # the file an empty batch writes holds nothing to log
                d, f = os.path.split(os.path.join(vdir, _LOG, rel))
                for name in (f, f".{f}.crc"):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(d, name))
                del man[_LOG][rel]
        _publish(path, vdir, got, man)


def incremental_minhash_candidates_banded(
        spark, path: str, new_shingled: DataFrame,
        id_col: str = "doc_id", shingles_col: str = "s",
        threshold: float = 0.5,
        max_batch_id_exclusive: int | None = None,
        max_candidates_per_new: int | None = None,
        new_sigs: DataFrame | None = None,
        new_band_keys: list[int] | None = None) -> DataFrame:
    """Pruned probe of the band-partitioned signature table: near-dup
    candidates (new_id, old_id, est_jaccard) of a NEW batch against
    the persisted corpus, reading ONLY

    * the band buckets the batch's own band hashes fall in (the
      candidate lookup), and
    * the doc buckets of the surviving candidate old-ids (the
      signature fetch for the estimate) —

    both partition-pruned scans, each unioned with the version's log
    (the batches appended since the last fold): the log's band rows
    are derived with the writer's own band, fingerprint and bucket
    expressions and filtered to the touched buckets, and its
    signatures to the candidates' doc buckets. The corpus is never
    re-shingled, re-hashed, or fully read; the log is read in full,
    and maintenance keeps it under one bucket's worth of rows.
    Geometry (num_perm, bands, n_buckets) comes from the table's
    meta, so probe/table drift cannot happen.
    ``max_batch_id_exclusive`` restricts a keyed table to batches
    strictly before it (partition-level, in the buckets and in the
    log), which makes a foreachBatch retry's probe independent of
    whether the failed attempt already appended this batch's own
    signatures.

    ``max_candidates_per_new`` is the probe-side ADMISSION CAP
    (VERDICT r9 ask #1), the probe's analog of
    :func:`lsh_candidate_pairs`'s ``bucket_cap``: a new batch hitting
    a persisted boilerplate cluster of B docs otherwise emits
    |batch|·B candidates (bounded — never corpus² — but unboundedly
    larger than the batch). With the cap set, (a) a corpus band-hash
    group larger than the cap admits only min-``doc_id`` ANCHORS
    into the probe join — one per DISTINCT stored signature within
    the group (largest signature subgroups first, at most cap of
    them), collapsing the |batch|·B emission of a sig-identical
    boilerplate cluster to |batch| BEFORE any pair exists while
    keeping every genuinely different-sig member visible through its
    own anchor — and
    (b) each new doc RETURNS at most ``max_candidates_per_new``
    pairs, ranked by estimated similarity (``old_id`` tie-break) and
    applied AFTER the ≥-threshold filter, so a genuine near-dup can
    never be evicted by a crowd of low-id sub-threshold band
    collisions. CALLER-FACING CONTRACT for the capped mode: the
    collapse is exact at SIGNATURE granularity — up to 64-bit
    ``sig_fp`` (xxhash64) fingerprint collisions: two genuinely
    different signatures colliding on the fingerprint inside one
    over-cap group would share an anchor (probability ~n²·2⁻⁶⁵ per
    group; the collapse granularity is the fingerprint, not the
    signature bytes). Sig-identical
    cluster members are losslessly represented by their anchor (same
    est_jaccard against any probe), so the set of new docs flagged
    ≥ threshold and their cluster assignment (the anchor's connected
    component IS the cluster's) match the uncapped probe — pinned by
    the ``probe_admission_cap`` verdict query on a planted
    batch-vs-mega-cluster fixture, with natural (under-cap) pairs
    byte-identical by construction. What the cap does NOT promise: a
    corpus doc hidden past the per-group anchor budget (> cap
    DISTINCT signatures inside one band-hash group), or whose
    similarity lives purely in position-level partial sig matches
    inside bands it shares with a different-sig crowd, can be
    missed. Use the capped mode to feed the gate; leave it None
    when every pairwise estimate matters.

    ``new_band_keys``: optional PRE-COLLECTED distinct
    ``xxhash64(band_idx, band_hash)`` values of the batch's band
    relation (:func:`collect_band_keys`). The probe then derives its
    touched-bucket IN-list driver-side (``key % n_buckets`` — Python
    ``%`` is pmod) instead of running the per-probe bucket-collect
    job; band keys are ``n_buckets``-independent, so one collect
    serves probes across geometry migrations. The keys MUST be the
    batch's own, from :func:`collect_band_keys` at the table's
    ``bands`` (checked against meta: a list without that band count
    raises), or the pruned scan would silently miss buckets.

    ``new_sigs``: optional PRE-COMPUTED batch signatures — a
    materialized (``id_col``, sig) relation exactly as
    :func:`minhash_signatures` produces for this batch at the table's
    ``num_perm``. Signatures depend only on the shingles and
    ``num_perm`` (never on banding or bucket geometry), so a caller
    probing the SAME batch several times — the maintenance/rebucket
    verdicts probe before and after each mutation, the admission-cap
    verdict probes capped and uncapped — computes them once and
    passes them here instead of paying the explode + 64-min-aggregate
    job per probe (r12 optimization; results are bit-identical
    because the signature relation is deterministic).

    Snapshot semantics: the probe resolves the table's current
    version ONCE and reads meta, manifest and every scan from that
    version dir, so a returned DataFrame is version-pinned: it stays
    consistent across a later publish for as long as that version is
    retained (``table_io.publish_version`` keeps the previous one)."""
    state = _published(path.rstrip("/"))
    if state is None:
        raise ValueError(f"no signature table at {path}")
    cur, meta, man = state
    num_perm, bands = meta["num_perm"], meta["bands"]
    n_buckets = meta["n_buckets"]
    if max_batch_id_exclusive is not None and not meta["keyed"]:
        raise ValueError(
            f"table at {path} is not batch_id-keyed; "
            "max_batch_id_exclusive is meaningless")
    if new_band_keys is not None and \
            getattr(new_band_keys, "bands", None) != bands:
        raise ValueError(
            f"new_band_keys were collected at bands="
            f"{getattr(new_band_keys, 'bands', None)} but the table at "
            f"{path} has bands={bands}; collect them with "
            "collect_band_keys(sigs, <the table's meta bands>)")

    def _empty() -> DataFrame:
        # id-typed, not hard-coded long: string-keyed tables must get
        # string-typed empty frames or unions against a nonempty
        # probe result become schema-dependent on corpus emptiness
        idt = (new_shingled if new_shingled is not None
               else new_sigs).schema[id_col].dataType
        return spark.createDataFrame([], T.StructType([
            T.StructField("new_id", idt),
            T.StructField("old_id", idt),
            T.StructField("est_jaccard", T.DoubleType())]))

    def _live(sub: str, col: str | None = None,
              want: set[int] = frozenset()) -> list[str]:
        """The manifest's ``sub`` entries to read: those whose ``col``
        partition value is in ``want`` (every entry when ``col`` is
        None), without the batches at or past
        ``max_batch_id_exclusive``."""
        out = []
        for rel in man[sub]:
            parts = dict(c.split("=", 1) for c in rel.split("/") if "=" in c)
            if col is not None and int(parts[col]) not in want:
                continue
            bid = parts.get("batch_id")
            if (max_batch_id_exclusive is not None and bid is not None
                    and int(bid) >= max_batch_id_exclusive):
                continue
            out.append(rel)
        return out

    def _epoch(df: DataFrame) -> DataFrame:
        if max_batch_id_exclusive is not None:
            return df.filter(
                F.col("batch_id") < F.lit(max_batch_id_exclusive))
        return df

    def _pruned_scan(sub: str, col: str,
                     bucket_vals: list[int]) -> DataFrame | None:
        """Scan of the version's ``sub`` restricted to ``bucket_vals``.

        The touched dirs are resolved DRIVER-side from the manifest
        and passed as explicit paths (:func:`_scan`), so Spark never
        lists the other n_buckets−touched dirs — the fixed
        per-probe listing cost that grows with n_buckets (17.9 s at
        5,120 dirs on local FS) drops to a dict lookup. The partition
        IN-filter (and the epoch filter) stay on the relation and keep
        the pinned plan shape: two partition-pruned scans. None ⇒ no
        matching dirs (empty corpus slice)."""
        rels = _live(sub, col, set(bucket_vals))
        if not rels:
            return None
        return _epoch(_scan(spark, cur, sub, rels)).filter(
            F.col(col).isin(bucket_vals))

    # the log: every batch appended since the last fold, read in full
    log_rels = _live(_LOG)
    log = _epoch(_scan(spark, cur, _LOG, log_rels)) if log_rels else None
    # a first write whose batch had zero signable docs publishes a
    # table with meta but no data dirs — an empty corpus, not an
    # error (the retry-idempotent gate depends on the probe
    # tolerating it)
    if not (man["bands"] or log_rels):
        return _empty()

    if new_sigs is None:
        # LAZY cut when the bucket collect below is the next action —
        # that collect computes every partition of the signature
        # relation, so the checkpoint fuses into it (one job instead
        # of checkpoint-job + collect-job). With pre-collected band
        # keys the collect is skipped, so the cut must stay eager
        # (the next consumer is the probe join, whose concurrent AQE
        # subplans would race a lazy checkpoint — see _lineage.py).
        new_sigs = cut_lineage(
            minhash_signatures(new_shingled, id_col, shingles_col,
                               num_perm),
            eager=new_band_keys is not None)
    # NOT separately materialized: the band explode is a cheap narrow
    # map over the already-checkpointed signatures, so its two
    # consumers (the bucket collect and the probe join's build side)
    # re-derive it instead of paying another eager-checkpoint job —
    # probe latency is dominated by fixed per-job overhead at small
    # batch sizes
    new_banded = (new_sigs.select(
        F.col(id_col).alias("new_id"),
        F.col("sig").alias("sig_new"),
        _band_explode(bands).alias("band_idx", "band_hash"))
        .withColumn("bucket", _bucket(n_buckets)))
    # the batch's touched band buckets — k-bounded collect (≤ n_buckets
    # ints) off the MATERIALIZED new side, then pushed as a literal
    # IN-list so the parquet source partition-prunes the corpus scan;
    # with pre-collected band keys the list is derived driver-side
    # (key % n_buckets == pmod — value-identical to the Spark collect,
    # pinned by tests/test_dedup.py) and the job is skipped entirely
    if new_band_keys is not None:
        buckets = sorted({k % n_buckets for k in new_band_keys})
    else:
        buckets = sorted({r["bucket"] for r in
                          new_banded.select("bucket").distinct()
                          .collect()})
    if not buckets:              # batch had no signable docs
        return _empty()
    band_cols = ["doc_id", "band_idx", "band_hash", "sig_fp"]
    corpus_bands = _union([
        df.select(*band_cols) for df in (
            _pruned_scan("bands", "bucket", buckets),
            None if log is None else _band_rows(log, bands, n_buckets)
            .filter(F.col("bucket").isin(buckets)))
        if df is not None])
    if corpus_bands is None:     # batch touches no existing dirs
        return _empty()
    if max_candidates_per_new is not None:
        # corpus-side star collapse BEFORE the join: over-cap
        # band-hash groups are reduced to ≤ cap REPRESENTATIVE rows —
        # one min-id anchor per DISTINCT stored signature (sig_fp),
        # largest signature subgroups first. Sig-identical boilerplate
        # collapses to one row, while a member whose signature differs
        # from the crowd's keeps its own anchor (ADVICE r10 #2; the
        # residual is in the docstring). A group never straddles
        # buckets (bucket = hash(band_idx, band_hash)), and the log's
        # rows of the touched buckets are in the union, so the windows
        # over the PRUNED rows see exact group sizes; one extra
        # shuffle over pruned rows, capped mode only.
        from pyspark.sql import Window
        wb = Window.partitionBy("band_idx", "band_hash")
        cap = F.lit(max_candidates_per_new)
        wsig = Window.partitionBy("band_idx", "band_hash", "sig_fp")
        wrank = wb.orderBy(F.desc("_sn"), "_sa")
        corpus_bands = (corpus_bands
                        .withColumn("_n", F.count(F.lit(1)).over(wb))
                        .withColumn("_sa", F.min("doc_id").over(wsig))
                        .withColumn("_sn", F.count(F.lit(1)).over(wsig))
                        .withColumn("_sr", F.dense_rank().over(wrank))
                        .filter((F.col("_n") <= cap)
                                | ((F.col("doc_id") == F.col("_sa"))
                                   & (F.col("_sr") <= cap)))
                        .drop("_n", "_sa", "_sn", "_sr"))
    cand = (corpus_bands
            .join(F.broadcast(new_banded.drop("bucket")),
                  ["band_idx", "band_hash"])
            .filter(F.col("new_id") != F.col("doc_id"))
            .select("new_id", F.col("doc_id").alias("old_id"), "sig_new")
            .dropDuplicates(["new_id", "old_id"]))
    # LAZY cut: the doc-bucket collect right below is the
    # materializing action (it computes every candidate partition
    # before any other consumer exists), so the candidate relation
    # costs one job instead of checkpoint-job + collect-job (r13
    # optimization; the estimate join below then reads the cached
    # blocks exactly as before)
    cand = cut_lineage(cand, eager=False)
    # candidate old-ids' doc buckets — O(collisions) distinct values.
    # The same bounded collect carries a free width check (ADVICE r12
    # #1): a ``new_sigs`` built at a different num_perm than the
    # table's meta would silently yield unmatchable band hashes and
    # wrong estimates — surface it loudly instead (zero extra jobs;
    # the width is constant per batch so the distinct stays tiny).
    doc_rows = cand.select(
        F.pmod(F.xxhash64("old_id"), F.lit(n_buckets)).cast("int")
        .alias("b"), F.size("sig_new").alias("w")).distinct().collect()
    bad_w = {r["w"] for r in doc_rows} - {num_perm}
    if bad_w:
        raise ValueError(
            f"new_sigs signature width(s) {sorted(bad_w)} != table "
            f"num_perm={num_perm} at {path}; matching widths are "
            "required for band compatibility")
    doc_buckets = sorted({r["b"] for r in doc_rows})
    if not doc_buckets:          # no collisions: empty probe result
        return _empty()
    sidecar = _union([
        df.select(F.col("doc_id").alias("old_id"),
                  F.col("sig").alias("sig_old")) for df in (
            _pruned_scan("sigs", "doc_bucket", doc_buckets),
            None if log is None else log.filter(
                _doc_bucket(n_buckets).isin(doc_buckets)))
        if df is not None])
    if sidecar is None:          # no sig dirs for the candidates
        return _empty()
    est = (F.size(F.filter(F.zip_with("sig_new", "sig_old",
                                      lambda x, y: x == y),
                           lambda v: v)).cast("double") / num_perm)
    # no broadcast HINT on the candidate side: collisions are usually
    # batch-sized (AQE broadcasts them anyway) but are UNBOUNDED under
    # a boilerplate mega-cluster — a forced broadcast of millions of
    # 64-long-sig rows would blow the broadcast/driver limits exactly
    # when the probe is under the most load; let AQE pick from the
    # runtime size
    result = (cand.join(sidecar, "old_id")
              .select("new_id", "old_id", est.alias("est_jaccard"))
              .filter(F.col("est_jaccard") >= threshold))
    if max_candidates_per_new is not None:
        # per-new output bound applied AFTER the threshold, ranked by
        # estimate (strongest partners kept, old_id tie-break): an
        # order-by-old_id cap BEFORE the estimate could evict a true
        # near-dup behind a crowd of low-id sub-threshold collisions
        # and silently unflag the doc. The emission bound doesn't
        # need this stage — the corpus-side star collapse above
        # already keeps the join input ≤ batch·bands·cap; this stage
        # only enforces the literal per-new output contract over
        # already-thresholded rows.
        from pyspark.sql import Window
        wn = Window.partitionBy("new_id").orderBy(
            F.desc("est_jaccard"), "old_id")
        result = (result.withColumn("_rn", F.row_number().over(wn))
                  .filter(F.col("_rn") <= F.lit(max_candidates_per_new))
                  .drop("_rn"))
    return result


def rebucket_signature_table(spark, path: str, n_buckets: int) -> dict:
    """Geometry migration for the banded signature table (VERDICT r9
    ask #3): rewrite BOTH subtables under a new ``n_buckets`` and
    publish data + ``meta.json`` + ``manifest.json`` together as ONE
    version of the whole table (see the layout comment).

    The production sizing policy (PLANS.md §Round-9) is n_buckets ∝
    corpus so the pruned probe's scanned bytes stay constant — but
    append geometry is frozen at first write (mismatches raise), so a
    live table grown 100× needs this migration. Shape:

    * each subtable rewrites in ONE Spark job (:func:`_write_sub`) —
      read the current version's subtable, recompute the bucket
      column from the SAME stored columns the writer hashed
      (``xxhash64(band_idx, band_hash)`` / ``xxhash64(doc_id)``, types
      round-trip through parquet so the hashes are identical),
      ``partitionBy`` write into the staged version dir. Cost is one
      pass over the signature state (k longs per doc × bands) — never
      the corpus text. When the new geometry is a MULTIPLE of the old
      (``n_new % n_old == 0`` — the production growth shape: doubling
      as the corpus doubles), the rewrite of the stored rows is a
      NARROW map with no shuffle at all: ``h mod n_new`` refines
      ``h mod n_old``, so every old bucket dir splits locally into
      exactly ``n_new/n_old`` new dirs and each task touches only its
      input dirs' images (plan pinned shuffle-free in
      tests/test_dedup.py). Non-multiple geometries co-locate with a
      ``repartition`` on the new bucket first — full shuffle of the
      signature state, still one job;
    * the log moves into the buckets in the same jobs, and the new
      version's log is empty: its rows, derived with the writer's
      expressions, are co-located by the new bucket (a shuffle of the
      log's rows only), so a dir they fall in gains one file beside
      the images of its old dir's files;
    * a prober resolves geometry, manifest, and data through the same
      version, so it sees the old geometry or the new, never a mix;
      appends wait on the writer lock and land in the migrated
      version;
    * probe-before == probe-after as an exact multiset, pinned by the
      ``signature_table_rebucket`` verdict query; the previous
      version is retained so an in-flight probe finishes its scan.

    Appends after the migration must pass the NEW n_buckets (or adopt
    it from meta); the loud geometry check is unchanged. Returns
    {n_buckets_old, n_buckets_new, bands_dirs, sigs_dirs}."""
    path = path.rstrip("/")
    with _locked_current(path) as state:
        if state is None:
            raise ValueError(f"no signature table at {path}")
        return _rebucket(spark, path, *state, n_buckets)


def _rebucket(spark, path: str, cur: str, meta: dict, man: dict,
              n_buckets: int) -> dict:
    """:func:`rebucket_signature_table`'s body, run under the writer
    lock the caller holds."""
    old_n = meta["n_buckets"]
    if n_buckets == old_n:
        return {"n_buckets_old": old_n, "n_buckets_new": n_buckets,
                "bands_dirs": len(man["bands"]),
                "sigs_dirs": len(man["sigs"]), "skipped": True}
    vdir = _stage(path, cur, carry=())
    # multiple-of-old geometry: h mod n_new determines h mod n_old,
    # so each old dir's rows land in exactly n_new/n_old new dirs —
    # a narrow local split, no co-locating shuffle needed (each task
    # writes only its own input dirs' images). The production growth
    # path at 100 TB state scale: doubling is a map job over the
    # signature state, not a full reshuffle of it.
    narrow = n_buckets % old_n == 0
    for sub in _SUBTABLES:
        _write_sub(spark, cur, vdir, meta, man, sub, n_buckets,
                   base=True, shuffle=not narrow)
    man = _scan_manifest(vdir)
    _publish(path, vdir, dict(meta, n_buckets=n_buckets), man)
    return {"n_buckets_old": old_n, "n_buckets_new": n_buckets,
            "narrow": narrow,
            "bands_dirs": len(man["bands"]),
            "sigs_dirs": len(man["sigs"])}


def _write_sub(spark, cur: str, vdir: str, meta: dict, man: dict,
               sub: str, n_buckets: int, base: bool, shuffle: bool,
               target_bytes: int | None = None) -> None:
    """Write version ``cur``'s log into the staged ``vdir``'s subtable
    ``sub`` at ``n_buckets``, in one Spark job. The log's rows are
    derived with the writer's expressions (:func:`_log_rows`) and
    co-located by bucket, so they add at most one file to a dir.

    With ``base`` the subtable's own rows go along, into a fresh dir
    (a rebucket or a compaction): their bucket column is recomputed
    from the SAME stored columns the writer hashed (types round-trip
    through parquet, so the hashes are identical), and ``shuffle``
    co-locates them too — one file per dir, split past
    ``target_bytes`` at the subtable's current bytes per row; without
    it each task writes its own rows' dirs. Without ``base`` the log's
    rows are appended to the dirs :func:`_stage` carried in."""
    col = _BUCKET_COL[sub]
    log = (_log_rows(_scan(spark, cur, _LOG, list(man[_LOG])), sub,
                     meta["bands"], n_buckets) if man[_LOG] else None)
    rows = None
    if base and man[sub]:
        rows = _scan(spark, cur, sub, list(man[sub])).withColumn(
            col, (_bucket if sub == "bands" else _doc_bucket)(n_buckets))
    if log is not None and not shuffle:
        log = log.repartition(F.col(col))
    df = _union([d for d in (rows, log) if d is not None])
    if df is None:
        return
    if shuffle:
        df = df.repartition(F.col(col))
    w = df.write
    if target_bytes and rows is not None:
        root = os.path.join(cur, sub)
        size = sum(os.path.getsize(os.path.join(root, rel, f))
                   for rel in man[sub]
                   for f in _data_files(os.path.join(root, rel)))
        n_rows = sum(v["rows"] for v in man[sub].values())
        w = w.option("maxRecordsPerFile",
                     max(1, target_bytes * n_rows // max(size, 1)))
    (w.partitionBy(*(["batch_id"] if meta["keyed"] else []), col)
     .mode("overwrite" if base else "append").parquet(f"{vdir}/{sub}"))


def _overfull(spark, cur: str, meta: dict, man: dict,
              max_files: int) -> list[str]:
    """The subtables of version ``cur`` with a dir that holds more than
    ``max_files`` files, counting for each dir the log files with rows
    for it — the files the dir would hold had every append written its
    rows into the buckets. No Spark job while no dir's file count plus
    the whole log's can pass ``max_files``; past that, one job over
    the log finds the dirs each log file's rows fall in."""
    files = {(sub, rel): v["files"]
             for sub in _SUBTABLES for rel, v in man[sub].items()}
    if max(files.values(), default=0) + len(man[_LOG]) <= max_files:
        return []
    if man[_LOG]:
        log = _scan(spark, cur, _LOG, list(man[_LOG])).withColumn(
            "_f", F.input_file_name())
        pre = ([F.lit("batch_id="), F.col("batch_id"), F.lit("/")]
               if meta["keyed"] else [])
        touched = _union([
            _log_rows(log, sub, meta["bands"], meta["n_buckets"]).select(
                F.lit(sub).alias("sub"), "_f",
                F.concat(*pre, F.lit(f"{col}="), F.col(col)).alias("rel"))
            for sub, col in _BUCKET_COL.items()])
        for r in touched.distinct().groupBy("sub", "rel").count().collect():
            files[r["sub"], r["rel"]] = (files.get((r["sub"], r["rel"]), 0)
                                         + r["count"])
    return [sub for sub in _SUBTABLES
            if any(n > max_files for (s, _rel), n in files.items()
                   if s == sub)]


def maintain_signature_table(spark, path: str,
                             target_rows_per_bucket: int = 2_000_000,
                             max_files_per_dir: int = 16,
                             compact_target_bytes: int = 128 * 1024
                             * 1024) -> dict:
    """Manifest-driven maintenance policy for the banded signature
    table — the executable form of the n_buckets ∝ corpus sizing rule
    (PLANS.md §Round-9/-10). Planning reads the driver-side manifest
    (dir → rows/files, log file → rows), never the data, but for one
    bounded job over the log when the small-files count needs it. The
    log's rows count as the band rows they stand for (rows ×
    ``bands``).

    Three triggers; growth first, and the other two only when the
    table does not grow:

    * **growth**: when the band index averages more than
      ``target_rows_per_bucket`` rows per bucket, double n_buckets
      until back under target (always a power-of-two multiple of the
      current geometry, so the rebucket takes its NARROW shuffle-free
      split path). Constant rows-per-bucket is what keeps the pruned
      probe's scanned bytes flat as the corpus grows — touched dirs ≤
      batch·bands regardless of n_buckets, rows/dir held ≈ constant
      by this policy. The rebucket moves the log into the buckets too.
    * **small files**: compact a subtable — rewrite it with the log's
      rows, one file per dir, split past ``compact_target_bytes`` —
      when any of its dirs holds more than ``max_files_per_dir``
      files, counting the log files with rows for that dir
      (:func:`_overfull`): the count a layout that appended into the
      buckets would have, so compaction comes no more often than it
      would there.
    * **fold**: append the log's rows to the dirs they fall in, one
      file per dir at most, when the log holds more than
      ``max_files_per_dir`` files or more than
      ``target_rows_per_bucket`` band rows: every probe reads the
      whole log, so it is held to one dir's file and row limits. The
      write is O(log), not O(table). A compaction folds the log as
      well, appending it to the subtable it does not rewrite.

    Probe-invariant — pinned by the ``signature_table_maintenance``
    verdict query.

    Either action publishes ONE version of the whole table, under the
    same writer lock appends take, so an append arriving mid-pass
    waits and lands in the maintained version instead of being
    dropped by it. Returns {rebucketed, n_buckets, compacted (the
    subtables rewritten), folded (the log files moved into the
    buckets), bands_rows, rows_per_bucket} — callers log it; a no-op
    pass costs only the lock and the manifest read."""
    path = path.rstrip("/")
    with _locked_current(path) as state:
        if state is None:
            raise ValueError(f"no signature table at {path}")
        cur, meta, man = state
        log_rows = meta["bands"] * sum(v["rows"]
                                       for v in man[_LOG].values())
        bands_rows = log_rows + sum(v["rows"]
                                    for v in man["bands"].values())
        n = meta["n_buckets"]
        rpb = bands_rows / max(n, 1)
        target_n = n
        while bands_rows / max(target_n, 1) > target_rows_per_bucket:
            target_n *= 2
        compacted, fold = [], target_n != n
        if target_n != n:
            stats = _rebucket(spark, path, cur, meta, man, target_n)
            assert stats["narrow"], stats     # power-of-two multiple
        else:
            compacted = _overfull(spark, cur, meta, man, max_files_per_dir)
            fold = bool(man[_LOG]) and bool(
                compacted or len(man[_LOG]) > max_files_per_dir
                or log_rows > target_rows_per_bucket)
        if compacted or (fold and target_n == n):
            vdir = _stage(path, cur, carry=[s for s in _SUBTABLES
                                            if s not in compacted])
            for sub in _SUBTABLES:
                if sub in compacted or fold:
                    _write_sub(spark, cur, vdir, meta, man, sub, n,
                               base=sub in compacted, shuffle=True,
                               target_bytes=compact_target_bytes)
            # a subtable the fold only appended to keeps the entries of
            # the dirs it did not reach
            _publish(path, vdir, meta, _scan_manifest(
                vdir, {s: man[s] for s in _SUBTABLES if s not in compacted}))
    return {"rebucketed": target_n != n, "n_buckets": target_n,
            "compacted": compacted,
            "folded": len(man[_LOG]) if fold else 0,
            "bands_rows": bands_rows, "rows_per_bucket": round(rpb, 1)}


def remove_duplicated_spans(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            seg_tokens: int = 8,
                            min_df: int = 3) -> DataFrame:
    """Corpus-wide duplicated-span removal — the CCNet/RefinedWeb
    boilerplate pass, generalized from newline-lines to fixed
    ``seg_tokens``-token segments for whitespace corpora.

    Segment every document, count each segment's distinct-document
    frequency, drop segments appearing in >= ``min_df`` docs, and
    reassemble the survivors in order. Returns (id_col, clean_text,
    kept_segs, total_segs); a document that was ALL boilerplate
    survives with empty ``clean_text`` so downstream accounting sees
    it was emptied rather than silently losing the row.

    Plan shape (pinned in tests/test_plans.py via the ``dedup_spans``
    registry twin): the corpus-wide frequency count shuffles on the
    16-byte md5 digest of the segment — never the text — and the
    rebuild shuffles surviving segments on ``id_col`` (the one
    irreducible text exchange: reassembled text IS the output).
    Segment order is restored with an in-array sort per doc, not a
    global sort.
    """
    t = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(t) / F.lit(float(seg_tokens))).cast("long")
    reb = duplicated_span_survivors(docs, text_col, id_col,
                                    seg_tokens, min_df)
    return (docs.select(id_col, nseg.alias("total_segs"))
            .join(reb, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("kept_segs", F.lit(0)).cast("long")
                    .alias("kept_segs"),
                    "total_segs"))


def duplicated_span_survivors(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              seg_tokens: int = 8,
                              min_df: int = 3) -> DataFrame:
    """The rebuild aggregate of :func:`remove_duplicated_spans`
    WITHOUT the doc-spine join-back: (id_col, clean_text, kept_segs)
    for every document that kept at least one segment. Documents
    that were ALL boilerplate are simply absent. This is the shape a
    pipeline composition wants (curate_corpus stage 4b inner-joins it
    and drops emptied docs anyway) — using the full operator there
    would pay one redundant corpus-wide join per run just to attach
    accounting columns that get discarded."""
    t = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(t) / F.lit(float(seg_tokens))).cast("long")
    seg_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), nseg - 1),
        lambda i: F.array_join(
            F.slice(t, (i * seg_tokens + 1).cast("int"), seg_tokens), " "))
    segs = (docs.select(id_col, F.posexplode(seg_arr).alias("i", "seg"))
            .withColumn("h", F.md5("seg")))
    freq = segs.groupBy("h").agg(F.count_distinct(id_col).alias("df"))
    kept = (segs.join(freq, "h")          # reuses the digest partitioning
            .filter(F.col("df") < min_df))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("i", "seg"))),
                         lambda x: x["seg"]), " ").alias("clean_text"),
                 F.count(F.lit(1)).alias("kept_segs")))
