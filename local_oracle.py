#!/usr/bin/env python
"""Emit LOCAL_ORACLE_r{N}.json — the full-registry twin of the
driver's CORRECTNESS gate.

The driver verifies only the FIRST 50 registry entries (its sampled
prefix, natural registration order); this runner replays the SAME
comparison (tests/oracle_harness.compare: row count + sorted-column
schema + order-insensitive value hash vs the DuckDB oracle) over ALL
registered queries and records one row per query in the driver's
exact row shape, so every round ships machine-readable green/red for
the ~71 queries the driver never reaches. Queries without an oracle
(minhash/simhash/ANN/kmeans — pinned by recall/twin tests instead)
get the driver's rows-only shape with err="no_oracle", plus a
DETERMINISM anchor (r10 ask #6): the query runs twice and the two
order-insensitive value hashes must agree (hash_stable; an unstable
entry is counted RED as err="no_oracle_unstable"); run_hash records
the canonical digest so silent result drift across rounds is
diffable.

Usage:  python local_oracle.py [round_number]
        python local_oracle.py --only NAME [NAME ...]
        SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.01   # default, = driver

``--only`` is the per-change gate: the same comparison for just the
named entries (the ones a change touches), one JSON row per entry on
stdout in the LOCAL_ORACLE row shape — diffable against a committed
record — and no record file written. Exit 1 on any red row.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# UDF-backed entries unpickle package functions in Python workers,
# which inherit PYTHONPATH, not this process's sys.path: name the repo
# there before get_spark starts the JVM, so any working directory works
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from nvd2mysqlloader_spark.plans import QUERIES            # noqa: E402
from nvd2mysqlloader_spark.plans.registry import (         # noqa: E402
    oracle_map, spark_queries)
from nvd2mysqlloader_spark.session import get_spark        # noqa: E402
from tests.oracle_harness import (_hash_lines, _lines,      # noqa: E402
                                  compare)

# Every rows-only (oracle=None) registry entry must name the pytest
# that pins it to an exact twin / recall bound — a new engine query
# can never ship without either a DuckDB oracle or a named exact
# check. check_registry() verifies the pinned test function EXISTS in
# the named file and fails the run otherwise.
ROWS_ONLY_PINS: dict[str, str] = {
    "minhash_near_dup":
        "tests/test_dedup.py::test_minhash_estimates_track_exact",
    # minhash_near_dup_exact graduated to a full DuckDB oracle in
    # round 12 (prefix-filter completeness channel makes the verified
    # cut equal the all-pairs truth); its exact-twin pytest
    # (test_minhash_exact_verify_matches_allpairs) still runs.
    "simhash_near_dup":
        "tests/test_dedup.py::test_simhash_identical_zero_hamming",
    "ann_topk_lsh": "tests/test_dedup.py::test_ann_recall_vs_bruteforce",
    "ann_topk_ivf":
        "tests/test_dedup.py::test_ivf_recall_beats_scan_fraction",
    "ann_topk_pq": "tests/test_dedup.py::test_pq_recall_vs_bruteforce",
    "kmeans_clusters":
        "tests/test_kmeans.py::test_kmeans_matches_numpy_twin_exactly",
    "bpe_pack_sequences":
        "tests/test_corpus.py::test_tokenize_and_pack_matches_python_twin",
    "semantic_dedup_groups":
        "tests/test_dedup.py::test_semantic_dedup_matches_python_twin",
}


def check_registry() -> list[str]:
    """Registry hygiene gate (VERDICT r5 #8). Returns a list of
    problems (empty = clean):

    * every oracle entry names a registered query (oracle_map ⊆
      spark_queries — true by construction of the decorator, asserted
      anyway so a future refactor cannot break it silently);
    * every rows-only query has a ROWS_ONLY_PINS entry whose pinned
      pytest function actually exists in the named file.
    """
    problems = []
    missing = set(oracle_map()) - set(spark_queries())
    if missing:
        problems.append(f"oracle entries without a query: {sorted(missing)}")
    for name, q in QUERIES.items():
        if q.oracle is not None:
            continue
        pin = ROWS_ONLY_PINS.get(name)
        if pin is None:
            problems.append(
                f"rows-only query {name!r} has no pytest pin in "
                "ROWS_ONLY_PINS — add an exact-twin/recall test or an "
                "oracle")
            continue
        fpath, _, func = pin.partition("::")
        full = os.path.join(ROOT, fpath)
        if not os.path.exists(full):
            problems.append(f"{name}: pinned file {fpath} missing")
        else:
            with open(full) as fh:
                if f"def {func}(" not in fh.read():
                    problems.append(f"{name}: pinned test {pin} not found")
    stale = set(ROWS_ONLY_PINS) - {n for n, q in QUERIES.items()
                                   if q.oracle is None}
    if stale:
        problems.append(f"stale pins (query gained an oracle or was "
                        f"removed): {sorted(stale)}")
    return problems


def run(sf_dir: str, names: list[str] | None = None) -> dict:
    spark = get_spark("local_oracle")
    out: dict[str, dict] = {}
    # full registry in registration order, or just the named entries
    for name in names or QUERIES:
        q = QUERIES[name]
        row = {"rows_match": None, "schema_match": None,
               "hash_match": None, "spark_rows": None,
               "oracle_rows": None, "err": None}
        try:
            if q.oracle is None:
                # rows-only entries get a DETERMINISM anchor beside
                # their pytest pin (VERDICT r10 ask #6): the query
                # runs TWICE and both results are canonicalized with
                # the harness's own order-insensitive value hash —
                # the recall/twin pytest proves the algorithm, the
                # stable hash catches silent nondeterminism (seed
                # drift, iteration-order dependence) that a TRUE-pin
                # verdict column can't see. run_hash is recorded so
                # BETWEEN-run drift is diffable round over round when
                # the fixtures and code are unchanged.
                hashes = []
                for _ in range(2):
                    df = q.fn(spark, sf_dir)
                    rows_ = df.collect()
                    hashes.append(_hash_lines(
                        _lines(df.columns, [tuple(r) for r in rows_])))
                row["spark_rows"] = len(rows_)
                row["err"] = "no_oracle"
                row["run_hash"] = hashes[0][:16]
                row["hash_stable"] = hashes[0] == hashes[1]
                if not row["hash_stable"]:
                    row["err"] = "no_oracle_unstable"
            else:
                ok, msg = compare(spark, sf_dir, q.fn, q.oracle)
                if ok:
                    row.update(rows_match=True, schema_match=True,
                               hash_match=True)
                else:
                    # compare() short-circuits schema → rowcount →
                    # hash: mark the failing dimension False, earlier
                    # dimensions True, later ones None (unchecked) —
                    # a value-hash miss must not read as a schema break
                    if msg.startswith("schema mismatch") or \
                            msg.startswith("driver-unsafe"):
                        row["schema_match"] = False
                    elif msg.startswith("rowcount mismatch"):
                        row.update(schema_match=True, rows_match=False)
                    else:
                        row.update(schema_match=True, rows_match=True,
                                   hash_match=False)
                    row["err"] = msg[:500]
        except Exception as exc:    # a crash is a red row, not a crash
            row.update(rows_match=False, schema_match=False,
                       hash_match=False, err=repr(exc)[:500])
        out[name] = row
        flag = ("ok" if row["hash_match"]
                else row["err"] if row["err"] == "no_oracle" else "RED")
        print(f"# {name}: {flag}", file=sys.stderr)
    return out


def _red(row: dict) -> bool:
    """Neither oracle-green nor a hash-stable rows-only entry."""
    return not row["hash_match"] and row["err"] != "no_oracle"


def main() -> int:
    problems = check_registry()
    if problems:
        for p in problems:
            print(f"registry hygiene: {p}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    if sys.argv[1:2] == ["--only"]:
        names = sys.argv[2:]
        unknown = sorted(set(names) - set(QUERIES))
        if not names or unknown:
            print(f"--only needs registered query names; unknown: "
                  f"{unknown}", file=sys.stderr)
            return 2
        results = run(sf_dir, names)
        for name, row in results.items():
            print(json.dumps({name: row}))
        return 1 if any(_red(r) for r in results.values()) else 0
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    results = run(sf_dir)
    n_ok = sum(1 for r in results.values() if r["hash_match"])
    n_rows_only = sum(1 for r in results.values()
                      if r["err"] == "no_oracle")
    n_red = sum(1 for r in results.values() if _red(r))
    path = f"LOCAL_ORACLE_r{int(rnd):02d}.json" if rnd != "0" \
        else "LOCAL_ORACLE.json"
    with open(path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "total": len(results),
                   "oracle_green": n_ok, "rows_only": n_rows_only,
                   "red": n_red, "queries": results}, fh, indent=1)
    print(f"{path}: {n_ok} oracle-green, {n_rows_only} rows-only, "
          f"{n_red} red / {len(results)} total")
    return 1 if n_red else 0


if __name__ == "__main__":
    sys.exit(main())
