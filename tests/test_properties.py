"""Property-based checks (SURVEY §5.2.3): upsert idempotency,
last-writer-wins correctness vs a Python model, aggregate
order-insensitivity — hypothesis-generated inputs through the real
Spark operators."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nvd2mysqlloader_spark.operators.upsert import (last_writer_wins,
                                                    merge_upsert)

ROWS = st.lists(
    st.tuples(st.integers(0, 8),            # key
              st.integers(0, 5),            # version (order col)
              st.integers(-100, 100)),      # payload
    min_size=1, max_size=25)

SLOW = settings(max_examples=15, deadline=None,
                suppress_health_check=[HealthCheck.too_slow,
                                       HealthCheck.function_scoped_fixture])


def _df(spark, rows):
    return spark.createDataFrame(rows, ["k", "v", "x"])


@given(rows=ROWS)
@SLOW
def test_last_writer_wins_matches_model(spark, rows):
    got = {(r.k, r.v, r.x) for r in last_writer_wins(
        _df(spark, rows), ["k"], [F.desc("v"), F.desc("x")]).collect()}
    model = {}
    for k, v, x in rows:                      # max by (v, x) per key
        if k not in model or (v, x) > model[k]:
            model[k] = (v, x)
    want = {(k, v, x) for k, (v, x) in model.items()}
    assert got == want


@given(rows=ROWS, updates=ROWS)
@SLOW
def test_merge_upsert_properties(spark, rows, updates):
    target = last_writer_wins(_df(spark, rows), ["k"],
                              [F.desc("v"), F.desc("x")])
    batch = last_writer_wins(_df(spark, updates), ["k"],
                             [F.desc("v"), F.desc("x")])
    merged = merge_upsert(target, batch, ["k"])
    out = {r.k: (r.v, r.x) for r in merged.collect()}
    t = {r.k: (r.v, r.x) for r in target.collect()}
    b = {r.k: (r.v, r.x) for r in batch.collect()}
    assert set(out) == set(t) | set(b)        # keys = union
    for k, vx in b.items():
        assert out[k] == vx                   # matched → update wins
    for k, vx in t.items():
        if k not in b:
            assert out[k] == vx               # unmatched → kept
    # idempotency: applying the same batch again changes nothing
    again = {r.k: (r.v, r.x) for r in
             merge_upsert(merged, batch, ["k"]).collect()}
    assert again == out


@given(rows=ROWS)
@SLOW
def test_decimal_sum_order_insensitive(spark, rows):
    df = _df(spark, rows)
    a = df.agg(F.sum(F.col("x").cast("decimal(18,2)")).cast("double")).first()[0]
    b = (df.repartition(7).agg(
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double")).first()[0])
    assert a == b


def test_scrub_pii_unit(spark):
    """Pattern order pinned: an email whose local part looks like a
    dotted quad is scrubbed as ONE email, not a half-eaten IP; mixed
    text keeps non-PII content byte-identical."""
    from nvd2mysqlloader_spark.functions.text import scrub_pii
    rows = [
        ("a", "mail 10.0.0.1@corp.example.org now"),
        ("b", "server at 192.168.001.255, call 555-123-4567."),
        ("c", "no pii here, 1.2 + 3.4 = 4.6, v1.2.3"),
        ("d", "x@y.io and 8.8.8.8 and 555-000-1111"),
    ]
    out = {r[0]: r[1] for r in
           spark.createDataFrame(rows, ["k", "t"])
           .select("k", scrub_pii("t")).collect()}
    assert out["a"] == "mail <EMAIL> now"
    assert out["b"] == "server at <IP>, call <PHONE>."
    assert out["c"] == "no pii here, 1.2 + 3.4 = 4.6, v1.2.3"
    assert out["d"] == "<EMAIL> and <IP> and <PHONE>"


@given(batches=st.lists(st.one_of(
    st.tuples(st.just("upsert"),
              st.lists(st.tuples(st.integers(0, 6),      # key
                                 st.integers(0, 99)),    # payload
                       min_size=1, max_size=8)),
    st.tuples(st.just("delete"),
              st.lists(st.integers(0, 6), min_size=1, max_size=4))),
    min_size=1, max_size=4))
@SLOW
def test_versioned_upsert_matches_dict_model(spark, tmp_path_factory,
                                             batches):
    """Model-based: any sequence of partitioned versioned upserts and
    deletes == a Python dict applying last-writer-wins per batch then
    keyed replacement, or keyed removal, across batches. The partition
    column derives from the key (the operator's contract: keys cannot
    migrate partitions). Exercises publish/prune/hardlink and emptied
    partitions across arbitrary batch shapes."""
    import os

    from nvd2mysqlloader_spark.operators.upsert import (
        write_delete_parquet, write_upsert_parquet)

    path = str(tmp_path_factory.mktemp("prop") / "t")
    model: dict[int, int] = {}
    for op, batch in batches:
        if op == "delete":
            n = write_delete_parquet(
                path, spark.createDataFrame([(k,) for k in batch], "k long"),
                ["k"], partition_by=["year"])
            assert n == len(set(batch) & model.keys())
            for k in batch:
                model.pop(k, None)
        else:
            rows = [(k, 2019 + k % 3, x) for k, x in batch]
            df = spark.createDataFrame(rows, ["k", "year", "x"])
            deduped = last_writer_wins(df, ["k"], ["x"])   # desc on payload
            write_upsert_parquet(path, deduped, ["k"], partition_by=["year"])
            # model: within-batch max payload wins, then keyed replace
            best: dict[int, int] = {}
            for k, x in batch:
                best[k] = max(best.get(k, -1), x)
            model.update(best)
        got = ({r.k: (r.year, r.x)
                for r in spark.read.parquet(path).collect()}
               if os.path.exists(path) else {})
        assert got == {k: (2019 + k % 3, x) for k, x in model.items()}


def test_dedup_spans_partitioning_invariant(spark):
    """The duplicated-span pass is deterministic under physical layout:
    repartitioning the input (different segment arrival order at the
    frequency count and rebuild) yields the identical row set."""
    from nvd2mysqlloader_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    base = sorted(map(tuple, QUERIES["dedup_spans"].fn(spark, sf).collect()))

    from nvd2mysqlloader_spark.plans.text_queries import dedup_spans
    import nvd2mysqlloader_spark.plans.text_queries as tq

    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .repartition(7, "source"))
    # same logical plan over the repartitioned input
    orig_load = tq.load_table
    try:
        tq.load_table = lambda s, d, t: docs if t == "documents" \
            else orig_load(s, d, t)
        alt = sorted(map(tuple, dedup_spans(spark, sf).collect()))
    finally:
        tq.load_table = orig_load
    assert alt == base and base


def test_training_order_input_order_invariant(spark):
    """The training order depends only on (doc_id, epoch tag) — never
    on input row order or partitioning: a shuffled, repartitioned
    input reproduces the identical (shard, pos) for every doc."""
    from nvd2mysqlloader_spark.plans import QUERIES
    from nvd2mysqlloader_spark.plans.sampling_queries import training_order
    import nvd2mysqlloader_spark.plans.sampling_queries as sq

    sf = "/root/testdata/sf0.001"
    base = sorted(map(tuple, QUERIES["training_order"].fn(spark, sf).collect()))

    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .orderBy(F.desc("n_chars")).repartition(5))
    orig_load = sq.load_table
    try:
        sq.load_table = lambda s, d, t: docs if t == "documents" \
            else orig_load(s, d, t)
        alt = sorted(map(tuple, training_order(spark, sf).collect()))
    finally:
        sq.load_table = orig_load
    assert alt == base and base
