"""Text-analysis + deduplication query surface over ``documents``.

North-star extensions (BASELINE.json): exact/normalized/fuzzy dedup,
token statistics, quality scoring, heuristic language-ID, document
fingerprinting. All pure column expressions / relational plans — no
Python UDFs — so they scale to 100 TB as ordinary shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (STOPWORDS, WINNOW_K, WINNOW_M, WINNOW_POW,
                              WINNOW_W, fingerprint, normalize_ws,
                              punct_count, shingle3_udf, stopword_hits,
                              tokens, winnow_fingerprints_udf)
from ..sources.tpch import load_table
from ..operators._lineage import cut_lineage as _cut
from .registry import query


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="exact dedup: hash-groupBy on content, keep lowest id (north-star dedup family); one shuffle on the 128-bit hash, never on the text",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="normalized-content fingerprint dedup (case/whitespace-insensitive identity) — document fingerprinting north-star op",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(fingerprint("text").alias("fp"))
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@query(
    "token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(list_filter(
                    regexp_split_to_array(coalesce(text, ''), '\\s+'),
                    x -> x <> '')))
                AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    doc="token counting (whitespace tokenizer) aggregated per language — text-analysis north-star op; exact long sums",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .select("lang", "source",
                    F.size(tokens("text")).cast("long").alias("n_tok"),
                    F.length("text").cast("long").alias("n_ch"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.sum("n_ch").alias("total_chars"),
                 F.count_distinct("source").alias("n_sources")))


_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
           len(list_filter(toks, x -> lower(x) IN ({_EN}))) AS stop_hits,
           (len(toks) BETWEEN 10 AND 1000)
             AND len(list_filter(toks, x -> lower(x) IN ({_EN}))) > 0 AS passes
    FROM t
    """,
    doc="quality scoring: length / punctuation / stopword evidence per doc with a pass/fail gate — text-analysis north-star op",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", "text", tokens("text").alias("toks"))
    n_tokens = F.size("toks")
    stop_hits = stopword_hits(F.col("toks"), "en")
    return t.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        punct_count("text").alias("n_punct"),
        stop_hits.alias("stop_hits"),
        (n_tokens.between(10, 1000) & (stop_hits > 0)).alias("passes"),
    )


def _case_chain_sql() -> str:
    langs = list(STOPWORDS)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"h_{lang} >= h_{other}" for other in langs[i + 1:])
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, x -> lower(x) IN ({words}))) AS h_{lang}"


@query(
    "lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, lang, {", ".join(_hits_sql(lg) for lg in STOPWORDS)}
      FROM t
    )
    SELECT lang, {_case_chain_sql()} AS pred_lang, count(*) AS n_docs
    FROM h GROUP BY 1, 2
    """,
    doc="heuristic language-ID: per-language stopword evidence, fixed-precedence argmax; confusion matrix vs labeled lang — north-star op",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    langs = list(STOPWORDS)
    # per-language array-filter evidence counts; measured faster than an
    # explode + broadcast-dim-join + pivot alternative at bench scale
    # (lower fixed overhead, single pass over each token array)
    t = docs.select("doc_id", "lang", tokens("text").alias("toks"))
    h = t.select("doc_id", "lang",
                 *[stopword_hits(F.col("toks"), lg).alias(f"h_{lg}")
                   for lg in langs])
    # fixed precedence: earlier language wins ties (same CASE chain as oracle)
    expr = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1:]:
            c = F.col(f"h_{lang}") >= F.col(f"h_{other}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = expr.otherwise(F.lit(langs[-1]))
    return (h.select("lang", pred.alias("pred_lang"))
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok
    ), sizes AS (
      SELECT doc_id, len(s) AS nsh FROM sh
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.n_inter,
           CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.doc_id
    JOIN sizes sb ON i.id_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) >= 0.5
    """,
    doc="exact n-gram-Jaccard near-dup pairs via shingle inverted index (explode→self-equi-join→count), the verification path for MinHash-LSH; at 100 TB run the LSH variant first and this only on candidate pairs",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # carry the per-doc shingle-set size through the explode so the
    # self-join already has both sizes — no extra joins.
    # repartition first: shingling is CPU-heavy and a small parquet
    # arrives as one split — spread it across all cores before the
    # expensive projection (vectorized Arrow shingler, see shingle3_udf).
    # The inverted index is materialized ONCE for both self-join sides:
    # AQE's broadcast conversion re-plans each side independently, so
    # ReuseExchange never fires and the Arrow shingle pipeline would
    # otherwise run per side (see operators._lineage).
    ex = (docs
          .repartition(spark.sparkContext.defaultParallelism)
          .select("doc_id", shingle3_udf()("text").alias("s"))
          .select("doc_id", F.size("s").alias("nsh"),
                  F.explode("s").alias("shingle"))
          )
    ex = _cut(ex)
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_inter"),
                  F.min("a.nsh").alias("nsh_a"),
                  F.min("b.nsh").alias("nsh_b")))
    jac = (F.col("n_inter").cast("double")
           / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_inter")))
    return (inter.select("id_a", "id_b", "n_inter", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5))


_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "bpe_token_stats",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT))
                AS BIGINT) AS total_subtokens,
           CAST(sum(CAST(len(list_filter(
                    regexp_split_to_array(coalesce(text, ''), '\\s+'),
                    x -> x <> '')) AS BIGINT)) AS BIGINT) AS total_ws_tokens
    FROM documents GROUP BY source
    """,
    doc=(
        "token counting with a BPE-ish regex (letter runs | digit runs | "
        "single non-alnum symbol — the pre-tokenization split BPE "
        "vocabularies are trained on) next to the whitespace count, per "
        "source. Pure JVM-side regexp_extract_all; exact integer sums."
    ),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sub = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    return (docs
            .select("source",
                    F.size(sub).cast("long").alias("n_sub"),
                    F.size(tokens("text")).cast("long").alias("n_ws"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_sub").alias("total_subtokens"),
                 F.sum("n_ws").alias("total_ws_tokens")))


def _winnow_hash_sql() -> str:
    """DuckDB twin of functions.text.winnow_fingerprints_udf: the gram
    hash at 1-based start i over normalized string s."""
    terms = " + ".join(
        f"((CAST(ord(substr(s, i+{j}, 1)) AS BIGINT)"
        f" * {WINNOW_POW[WINNOW_K - 1 - j]}) % {WINNOW_M})"
        for j in range(WINNOW_K))
    return f"(({terms}) % {WINNOW_M})"


_FP_DF_CAP = 10        # drop fingerprints appearing in > CAP docs (hot keys)
_FP_JACCARD = 0.3      # similarity threshold over rare-fingerprint sets


@query(
    "winnow_fingerprint_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
      FROM documents
    ), h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(s) - {WINNOW_K} + 2, 1)),
                            i -> {_winnow_hash_sql()}) AS hs
      FROM t
    ), w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {WINNOW_W} + 2, 1)),
               i -> list_min(list_slice(hs, i, i + {WINNOW_W} - 1)))) AS fps
      FROM h
    ), e AS (
      SELECT doc_id, unnest(fps) AS fp FROM w
    ), d AS (
      SELECT fp FROM e GROUP BY fp HAVING count(*) <= {_FP_DF_CAP}
    ), er AS (
      SELECT e.doc_id, e.fp FROM e JOIN d USING (fp)
    ), sz AS (
      SELECT doc_id, count(*) AS nfp FROM er GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM er a JOIN er b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.n_shared,
           CAST(i.n_shared AS DOUBLE) / (sa.nfp + sb.nfp - i.n_shared)
             AS fp_jaccard
    FROM inter i
    JOIN sz sa ON i.id_a = sa.doc_id
    JOIN sz sb ON i.id_b = sb.doc_id
    WHERE CAST(i.n_shared AS DOUBLE) / (sa.nfp + sb.nfp - i.n_shared)
          >= {_FP_JACCARD}
    """,
    doc=(
        "document fingerprinting via winnowing (rolling K-char-gram "
        "polynomial hash, min per W-window — Schleimer et al. SIGMOD'03), "
        "scored as Jaccard over each pair's RARE fingerprint sets. "
        "All-integer mod arithmetic, so the Arrow-vectorized "
        "fingerprinter and the SQL oracle agree bit-for-bit. "
        "Fingerprints appearing in > 10 docs are dropped before the "
        "inverted-index self-join — on repetitive corpora a single hot "
        "gram otherwise fans out to |df|²/2 pairs (measured: OOM at "
        "sf0.1 without the cap, bounded 39k-row intermediate with it); "
        "the df cap is exactly the stop-key discipline a 100 TB "
        "near-dup pass needs, and the per-doc set sizes are recomputed "
        "over the capped index so the Jaccard stays consistent."
    ),
)
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws("text"))
    ex = (docs
          .repartition(spark.sparkContext.defaultParallelism)
          .select("doc_id", winnow_fingerprints_udf()(norm).alias("fps"))
          .select("doc_id", F.explode("fps").alias("fp")))
    # df cap and per-doc set size as window counts: two narrow shuffles
    # (fp, then doc_id), no extra scans of the fingerprint pipeline.
    # Materialized once for both self-join sides (AQE broadcast defeats
    # ReuseExchange; see operators._lineage).
    rare = (ex
            .withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .filter(F.col("d") <= _FP_DF_CAP)
            .withColumn("nfp", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
            .select("doc_id", "fp", "nfp")
            )
    rare = _cut(rare)
    a, b = rare.alias("a"), rare.alias("b")
    inter = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared"),
                  F.min("a.nfp").alias("nfp_a"),
                  F.min("b.nfp").alias("nfp_b")))
    jac = (F.col("n_shared").cast("double")
           / (F.col("nfp_a") + F.col("nfp_b") - F.col("n_shared")))
    return (inter.select("id_a", "id_b", "n_shared", jac.alias("fp_jaccard"))
            .filter(F.col("fp_jaccard") >= _FP_JACCARD))


@query(
    "token_pmi_pairs",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT doc_id, token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      WHERE token <> ''),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    cnt AS (SELECT token, count(*) AS n_tok FROM pres GROUP BY token),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             count(*) AS n_ab
      FROM pres a JOIN pres b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2)
    SELECT token_a, token_b, n_ab,
           round(ln((CAST(n_ab AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
                    / (CAST(ca.n_tok AS DOUBLE)
                       * CAST(cb.n_tok AS DOUBLE))), 6) AS pmi
    FROM pairs
    JOIN cnt ca ON ca.token = token_a
    JOIN cnt cb ON cb.token = token_b
    CROSS JOIN n
    ORDER BY pmi DESC, token_a, token_b
    LIMIT 20
    """,
    doc=(
        "token co-occurrence PMI (association mining — the phrase/"
        "collocation detector a corpus pipeline runs to find "
        "multi-word units): per-doc presence pairs are generated "
        "IN-ENGINE from the sorted distinct-token array with "
        "higher-order functions (index-transform over slices) — no "
        "(doc,token) self-join, no shuffle until the pair rollup, "
        "whose map-side combine reduces to |vocab|² keys at most. "
        "Marginal counts and the doc total broadcast back; "
        "pmi = ln(n_ab·N/(n_a·n_b)) rounded to 6 dp on both engines "
        "(ln drifts 1 ulp JVM vs libm), top-20 heap with the pair "
        "itself as tie-break. At real-corpus vocabulary sizes, bound "
        "the per-doc pair fan-out by a distinct-token cap or a "
        "frequent-token prefilter before the combos."
    ),
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = F.array_sort(F.array_distinct(
        F.filter(F.split("text", " "), lambda x: x != "")))
    base = docs.select("doc_id", arr.alias("toks"))
    n_docs = base.agg(
        F.count_distinct("doc_id").alias("n_docs"))

    # per-doc pair combos via HOFs: for token i, pair with every later
    # token in the sorted array — (a < b) ordering by construction
    combos = F.flatten(F.transform(
        F.col("toks"),
        lambda x, i: F.transform(
            F.slice(F.col("toks"), i + F.lit(2),
                    F.greatest(F.size("toks") - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("token_a"), y.alias("token_b")))))
    pairs = (base.select(F.explode(combos).alias("p"))
             .groupBy(F.col("p.token_a").alias("token_a"),
                      F.col("p.token_b").alias("token_b"))
             .agg(F.count(F.lit(1)).alias("n_ab")))

    cnt = (base.select("doc_id", F.explode("toks").alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("n_tok")))

    ca = cnt.select(F.col("token").alias("token_a"),
                    F.col("n_tok").alias("n_a"))
    cb = cnt.select(F.col("token").alias("token_b"),
                    F.col("n_tok").alias("n_b"))
    pmi = F.round(F.log(
        (F.col("n_ab").cast("double") * F.col("n_docs").cast("double"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))), 6)
    return (pairs.join(F.broadcast(ca), "token_a")
            .join(F.broadcast(cb), "token_b")
            .crossJoin(F.broadcast(n_docs))
            .select("token_a", "token_b", "n_ab", pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), "token_a", "token_b")
            .limit(20))


@query(
    "repetition_filter",
    oracle="""
    WITH base AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    sh AS (
      SELECT doc_id, source,
             greatest(len(t) - 2, 0) AS total,
             len(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS uniq
      FROM base)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN total > 0
                         AND CAST(total - uniq AS DOUBLE)
                             / CAST(total AS DOUBLE) > 0.2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(total - uniq) AS BIGINT) AS n_dup_shingles,
           CAST(sum(total) AS BIGINT) AS n_shingles,
           CAST(sum(total - uniq) AS DOUBLE)
             / CAST(sum(total) AS DOUBLE) AS dup_rate
    FROM sh GROUP BY source
    """,
    doc=(
        "repetition filter (Gopher/C4-style quality gate: drop docs "
        "whose text is dominated by repeated n-grams): per doc, the "
        "duplicate-3-gram fraction is (total − distinct)/total over "
        "word shingles built IN-ENGINE with sequence+element_at HOFs "
        "— no explode, no shuffle; the per-source rollup then "
        "aggregates exact integers (docs over the 0.2 threshold, "
        "duplicate and total shingle counts) and derives the corpus "
        "dup_rate in ONE double division, so every value is "
        "bit-equal across engines. One scan, one tiny exchange at "
        "any corpus size — the cheapest of the curation gates and "
        "the first one a 100 TB pipeline should run."
    ),
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", "source", arr.alias("t"))
    total = F.greatest(F.size("t") - 2, F.lit(0))
    shingles = F.when(total > 0, F.transform(
        F.sequence(F.lit(1), total),
        lambda i: F.concat_ws(" ", F.element_at("t", i),
                              F.element_at("t", i + F.lit(1)),
                              F.element_at("t", i + F.lit(2))))
    ).otherwise(F.array().cast("array<string>"))
    sh = base.select(
        "source", total.alias("total"),
        F.size(F.array_distinct(shingles)).alias("uniq"))
    dup = F.col("total") - F.col("uniq")
    flagged = ((F.col("total") > 0)
               & (dup.cast("double") / F.col("total").cast("double")
                  > 0.2)).cast("bigint")
    return (sh.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(flagged).alias("n_flagged"),
                 F.sum(dup).alias("n_dup_shingles"),
                 F.sum("total").alias("n_shingles"),
                 (F.sum(dup).cast("double")
                  / F.sum("total").cast("double")).alias("dup_rate")))


@query(
    "bigram_lm_scores",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(t[1:greatest(len(t)-1, 0)]) AS w1,
             unnest(t[2:len(t)]) AS w2
      FROM base),
    uni AS (
      SELECT w1 AS w, count(*) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT count(*) AS vsize FROM (
            SELECT DISTINCT unnest(t) AS w FROM base)),
    bc AS (
      SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
    scored AS (
      SELECT bg.doc_id,
             CAST(round(ln((CAST(bc.c2 AS DOUBLE) + 1.0)
                           / (CAST(uni.c1 AS DOUBLE)
                              + CAST(v.vsize AS DOUBLE))) * 1000000.0)
                  AS BIGINT) AS q
      FROM bg
      JOIN bc ON bc.w1 = bg.w1 AND bc.w2 = bg.w2
      JOIN uni ON uni.w = bg.w1
      CROSS JOIN v),
    per_doc AS (
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(q) AS BIGINT) AS sum_q
      FROM scored GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           CAST(sum_q AS DOUBLE) / 1000000.0
             / CAST(n_bigrams AS DOUBLE) AS avg_logprob
    FROM per_doc
    ORDER BY CAST(sum_q AS DOUBLE) / 1000000.0
               / CAST(n_bigrams AS DOUBLE), doc_id
    LIMIT 20
    """,
    doc=(
        "statistical LM quality filter (CCNet-style: score each doc "
        "by the average log-probability of its bigrams under a model "
        "trained on the corpus itself; the lowest-scoring docs are "
        "the junk candidates). Add-1-smoothed bigram probs come from "
        "exact integer counts; each ln is QUANTIZED to fixed-point "
        "micros (BIGINT) before the per-doc sum, so the accumulation "
        "is order-independent integer arithmetic and both engines "
        "agree bit-for-bit (the same trick embedding_centroids uses "
        "— a float sum's order is engine-chosen and would drift). "
        "avg_logprob derives in one fixed double tree. Bigram/unigram "
        "count tables broadcast back onto the exploded bigram stream; "
        "worst-20 is a heap. At 100 TB the bigram vocabulary no "
        "longer broadcasts — it becomes a shuffle hash join keyed on "
        "(w1,w2), same plan otherwise."
    ),
)
def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", arr.alias("t"))
    # (w1, w2) bigram stream, document order preserved by construction
    bg = (base.select(
        "doc_id",
        F.explode(F.arrays_zip(
            F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
            F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0)))))
        .alias("p"))
        .select("doc_id", F.col("p.0").alias("w1"),
                F.col("p.1").alias("w2")))
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vsize = (base.select(F.explode("t").alias("w")).distinct()
             .agg(F.count(F.lit(1)).alias("vsize")))

    lnp = F.log((F.col("c2").cast("double") + F.lit(1.0))
                / (F.col("c1").cast("double")
                   + F.col("vsize").cast("double")))
    q = F.round(lnp * F.lit(1000000.0), 0).cast("bigint")
    scored = (bg.join(F.broadcast(bc), ["w1", "w2"])
              .join(F.broadcast(uni), "w1")
              .crossJoin(F.broadcast(vsize))
              .select("doc_id", q.alias("q")))
    per_doc = (scored.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum("q").alias("sum_q")))
    avg = (F.col("sum_q").cast("double") / F.lit(1000000.0)
           / F.col("n_bigrams").cast("double"))
    return (per_doc.select("doc_id", "n_bigrams",
                           avg.alias("avg_logprob"))
            .orderBy(avg, "doc_id")
            .limit(20))


@query(
    "dedup_keep_best",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, source, n_chars,
             md5(text) AS content_hash,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id)
               AS rk,
             count(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM documents)
    SELECT content_hash, doc_id AS keeper_id, lang, source,
           n_chars AS kept_chars, CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rk = 1
    """,
    doc=(
        "best-copy dedup (the curation variant of exact dedup: when a "
        "content group has multiple copies, keep the highest-quality "
        "one — here longest n_chars, doc_id tie-break — not the "
        "arbitrary min-id): one window over the content hash computes "
        "rank and group size together, so a single md5 exchange "
        "serves both the keeper choice and the copy count (filter "
        "n_copies > 1 downstream to list only the duplicated "
        "groups — the synthetic corpus has dup groups at sf0.1 "
        "only, so the full keeper set keeps the oracle "
        "non-vacuous at sf0.01). Quality-aware keeper "
        "selection is what production dedup does (dedup_exact's "
        "min-id keeper is the mechanical baseline). Shuffles the "
        "128-bit hash + metadata, never the text."
    ),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    wo = w.orderBy(F.desc("n_chars"), "doc_id")
    ranked = (docs.select("doc_id", "lang", "source", "n_chars",
                          F.md5("text").alias("content_hash"))
              .withColumn("rk", F.row_number().over(wo))
              .withColumn("n_copies", F.count(F.lit(1)).over(w)))
    return (ranked.filter(F.col("rk") == 1)
            .select("content_hash", F.col("doc_id").alias("keeper_id"),
                    "lang", "source",
                    F.col("n_chars").alias("kept_chars"), "n_copies"))


_SPAN_SEG = 8          # tokens per segment
_SPAN_MIN_DF = 3       # segment is boilerplate at >= this many docs


@query(
    "dedup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t)/{_SPAN_SEG}.0) AS BIGINT)))
               AS i
      FROM toks),
    segs AS (
      SELECT doc_id, i,
             array_to_string(
               t[(i*{_SPAN_SEG}+1):(i*{_SPAN_SEG}+{_SPAN_SEG})], ' ')
               AS seg
      FROM idx),
    freq AS (
      SELECT md5(seg) AS h, count(DISTINCT doc_id) AS df
      FROM segs GROUP BY 1),
    kept AS (
      SELECT s.doc_id, s.i, s.seg
      FROM segs s JOIN freq f ON md5(s.seg) = f.h
      WHERE f.df < {_SPAN_MIN_DF}),
    reb AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS clean_text,
             count(*) AS kept_segs
      FROM kept GROUP BY doc_id),
    tot AS (
      SELECT doc_id, CAST(ceil(len(t)/{_SPAN_SEG}.0) AS BIGINT)
               AS total_segs
      FROM toks)
    SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
           CAST(coalesce(r.kept_segs, 0) AS BIGINT) AS kept_segs,
           t.total_segs
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
    doc=(
        "corpus-wide duplicated-span removal (the CCNet/RefinedWeb "
        "boilerplate pass, generalized from newline-lines to fixed "
        f"{_SPAN_SEG}-token segments for whitespace corpora): segment "
        "every document, count each segment's distinct-document "
        f"frequency, drop segments appearing in >= {_SPAN_MIN_DF} "
        "docs, reassemble the survivors in order. Frequencies are "
        "computed and joined on md5(segment) so the wide exchanges "
        "carry 16-byte digests, not text; the rebuild groups by "
        "doc_id with an in-array sort — order restored without a "
        "global sort. A doc that is ALL boilerplate survives with "
        "empty clean_text (left join), so downstream accounting sees "
        "it was emptied rather than silently losing the row."
    ),
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicated_spans
    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, seg_tokens=_SPAN_SEG,
                                   min_df=_SPAN_MIN_DF)
