"""Turn a workload ``Run`` (and, when traced, its spans) into the metrics
``BENCHMARK.json`` names.

End-to-end metrics come from the untraced run and mean the same on both
workloads: set-up, the closed-loop writer operation (a refresh cycle, an
admission batch), memory and storage. Set-up and writer operations are
gated in CPU seconds: when other tenants of the host take cores, wall
time stretches and CPU time does not. Their wall times, and the latency
of the reads served beside a refresh, are reported in the info line but
not gated.

Per-layer metrics come from the traced run. Every one is printed for
every workload; a layer count reads 0 on the workload that does not
call that layer. Times per layer, and the figures named per module, are
in the trace file.
"""

from __future__ import annotations

import os
import statistics

from common import Run, median, tail

E2E_UNITS = {
    "setup_s": "s",
    "write_cpu_s_p50": "s",
    "peak_rss_mb": "MB",
    "storage_bytes_per_input_byte": "B/B",
}

LAYER_UNITS = {
    "session.startup_s": "s",
    "setup.jobs": "count",
    "setup.driver_gap_s": "s",
    "op.jobs": "count",
    "op.stages": "count",
    "op.tasks": "count",
    "op.executor_cpu_s": "s",
    "op.driver_gap_s": "s",
    "op.shuffle_bytes": "B",
    "op.input_bytes": "B",
    "op.output_bytes": "B",
    "op.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
    # NVD layers (0 on llm_dedup_admit)
    "ingest.jobs_per_run": "count",
    "ingest.purge_jobs": "count",
    "cve_feed.bytes_read_per_refresh": "B",
    "upsert.jobs_per_refresh": "count",
    "upsert.shuffle_bytes_per_refresh": "B",
    "upsert.partitions_rewritten": "count",
    "upsert.partitions_linked": "count",
    "table_io.publishes_per_refresh": "count",
    "table_io.versions_live": "count",
    "table_io.data_files": "count",
    "compaction.jobs_per_refresh": "count",
    "compaction.files_removed": "count",
    "query_layer.jobs_per_read": "count",
    "query_layer.files_read_per_row_returned": "ratio",
    # LLM-data layers (0 on nvd_refresh_read)
    "dedup.jobs_per_batch": "count",
    "dedup.probe_jobs": "count",
    "dedup.append_jobs": "count",
    "dedup.candidates_per_new_doc": "ratio",
    "dedup.flagged_per_candidate": "ratio",
    "graph.cc_jobs": "count",
    "corpus.jobs": "count",
    "corpus.shuffle_bytes": "B",
    "plans.jobs_per_query": "count",
}


def units(traced: bool) -> dict[str, str]:
    return LAYER_UNITS if traced else E2E_UNITS


def end_to_end(run: Run) -> dict[str, float]:
    if run.request_s:
        # reported, not gated: a run holds about a dozen reads, whose
        # median moved 17-35% between runs and whose tail is the median
        req = run.request_s
        cap = 2 * max([v for v in req if v is not None], default=0.5)
        xs = sorted(cap if v is None else v for v in req)
        t_val, t_pct, t_n = tail(req, cap)
        run.info["requests"] = {"p50_ms": 1e3 * xs[(len(xs) - 1) // 2],
                                "tail_ms": 1e3 * t_val, "tail_percentile": t_pct,
                                "samples": t_n}
    run.info.update(setup_wall_s=median(run.setup_s), write_wall_s=run.write_s,
                    write_wall_s_p50=median(run.write_s),
                    write_cpu_s=run.write_cpu_s)
    return {
        "setup_s": median(run.setup_cpu_s),
        "write_cpu_s_p50": median(run.write_cpu_s),
        "peak_rss_mb": run.info["peak_rss_mb"],
        "storage_bytes_per_input_byte": run.storage_bytes / max(1, run.input_bytes),
    }


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum_under(kids: dict, root: dict, pred) -> dict:
    """Totals of the spans below ``root`` (inclusive) matching ``pred``,
    without counting a matching span's matching descendants twice."""
    out = {"jobs": 0.0, "shuffle_bytes": 0.0, "count": 0}
    todo = [root]
    while todo:
        s = todo.pop()
        if pred(s):
            for k in ("jobs", "shuffle_bytes"):
                out[k] += s["total"][k]
            out["count"] += 1
            continue
        todo += kids.get(s["id"], [])
    return out


def upsert_partitions(rec, op: dict) -> dict:
    """Leaf partitions of the silver table that the refresh's merge
    (``write_upsert_parquet``) wrote and carried over by hardlink, as
    its publish found them (see ``nvd.carryover``)."""
    out = {"partitions_written": 0, "partitions_linked": 0}
    for s in rec.walk(op):
        if s["name"] != "upsert.write_upsert_parquet":
            continue
        for p in rec.kids.get(s["id"], []):
            if p["name"] == "table_io.publish_version" and p["table"] == "nvd":
                for k in out:
                    out[k] += p[k]
    return out


def table_facts(warehouse: str) -> dict:
    """On-disk facts of the NVD warehouse tables, read after a refresh."""
    from nvd2mysqlloader_spark.operators import table_io
    out = {"versions_live": 0, "data_files": 0}
    for t in ("nvd", "nvd_json"):
        path = os.path.join(warehouse, t)
        out["versions_live"] += len(table_io.versions(path))
        for _, _, files in os.walk(os.path.realpath(path)):
            out["data_files"] += sum(f.endswith(".parquet") for f in files)
    return out


def per_layer(run: Run, rec, startup_s: float, run_wall_s: float):
    spans = rec.finish()
    kids = rec.kids
    top = kids.get(None, [])
    setups = [s for s in top if s["name"].startswith("setup.")]
    ops = [s for s in top if s["name"] in ("refresh", "admit")]
    reads = [s for s in top if s["name"].startswith("read.")]

    def named(prefix):
        return lambda s: s["name"].startswith(prefix)

    def per_op(pred, key="jobs"):
        return _med(_sum_under(kids, o, pred)[key] for o in ops)

    v = {
        "session.startup_s": startup_s,
        "setup.jobs": sum(s["total"]["jobs"] for s in setups),
        "setup.driver_gap_s": sum(s["total"]["driver_gap_s"] for s in setups),
        "spark.failed_tasks": sum(s["total"]["failed_tasks"] for s in top),
        "trace.overhead_pct": 100.0 * rec.overhead_s / run_wall_s,
    }
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "driver_gap_s",
              "shuffle_bytes", "input_bytes", "output_bytes", "spill_bytes"):
        v[f"op.{k}"] = _med(o["total"][k] for o in ops)

    ingest_runs = [s for s in spans if s["name"] == "ingest.run_ingest"]
    v["ingest.jobs_per_run"] = _med(s["total"]["jobs"] for s in ingest_runs)
    v["ingest.purge_jobs"] = _med(s["total"]["jobs"] for s in spans
                                  if s["name"] == "ingest.purge_rejected")
    v["cve_feed.bytes_read_per_refresh"] = _med(
        o.get("sql", {}).get("Scan json", {}).get("size of files read", 0.0)
        for o in ops if o["name"] == "refresh")
    v["upsert.jobs_per_refresh"] = per_op(lambda s: s["layer"] == "upsert")
    v["upsert.shuffle_bytes_per_refresh"] = per_op(
        lambda s: s["layer"] == "upsert", "shuffle_bytes")
    v["table_io.publishes_per_refresh"] = per_op(
        named("table_io.publish_version"), "count")
    v["compaction.jobs_per_refresh"] = per_op(named("compaction."))
    v["compaction.files_removed"] = sum(
        r.get("before_files", 0) - r.get("after_files", 0)
        for s in spans if s["name"] == "compaction.compact_parquet"
        for r in [s.get("result") or {}])
    refreshes = [upsert_partitions(rec, o) for o in ops if o["name"] == "refresh"]
    v["upsert.partitions_rewritten"] = _med(p["partitions_written"] for p in refreshes)
    v["upsert.partitions_linked"] = _med(p["partitions_linked"] for p in refreshes)
    facts = run.info.get("table_facts", {})
    for k in ("versions_live", "data_files"):
        v[f"table_io.{k}"] = facts.get(k, 0)
    rows = sum(s.get("rows", 0) for s in reads)
    files = sum(s.get("sql", {}).get("Scan parquet", {}).get(
        "number of files read", 0.0) for s in reads)
    v["query_layer.jobs_per_read"] = _med(s["total"]["jobs"] for s in reads)
    v["query_layer.files_read_per_row_returned"] = files / rows if rows else 0.0

    admits = [o for o in ops if o["name"] == "admit"]
    v["dedup.jobs_per_batch"] = per_op(lambda s: s["layer"] == "dedup")
    v["dedup.probe_jobs"] = per_op(named("dedup.incremental_minhash"))
    v["dedup.append_jobs"] = per_op(named("dedup.write_banded"))
    docs = sum(o.get("docs", 0) for o in admits)
    cands = sum(o.get("candidates", 0) for o in admits)
    flagged = sum(o.get("flagged", 0) for o in admits)
    v["dedup.candidates_per_new_doc"] = cands / docs if docs else 0.0
    v["dedup.flagged_per_candidate"] = flagged / cands if cands else 0.0
    curate = [s for s in spans if s["name"] == "corpus.curate_corpus"]
    v["graph.cc_jobs"] = sum(s["total"]["jobs"] for s in spans
                             if s["layer"] == "graph")
    v["corpus.jobs"] = sum(s["total"]["jobs"] for s in curate)
    v["corpus.shuffle_bytes"] = sum(s["total"]["shuffle_bytes"] for s in curate)
    v["plans.jobs_per_query"] = _med(s["total"]["jobs"] for s in spans
                                     if s["layer"] == "plans")
    return v, {"spans": layer_detail(spans), "named": named_figures(rec, ops)}


def layer_detail(spans: list[dict]) -> dict:
    """Per-layer time and work for the trace file: for every span name,
    calls, wall and self seconds (median and total), jobs and shuffle."""
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"layer": s["layer"], "calls": 0,
                                       "wall_s": [], "self_s": [],
                                       "jobs": 0.0, "executor_cpu_s": 0.0,
                                       "shuffle_bytes": 0.0,
                                       "driver_gap_s": 0.0})
        d["calls"] += 1
        d["wall_s"].append(s["wall_s"])
        d["self_s"].append(s["self_s"])
        for k in ("jobs", "executor_cpu_s", "shuffle_bytes", "driver_gap_s"):
            d[k] += s["total"][k]
    for d in out.values():
        d["wall_s_p50"] = median(d["wall_s"])
        d["wall_s_total"] = sum(d.pop("wall_s"))
        d["self_s_total"] = sum(d.pop("self_s"))
    return out


def named_figures(rec, ops: list[dict]) -> dict:
    """The per-module figures, by the names the layer map uses, for the
    trace file: seconds and counts per writer operation (median), with
    the lazy layers' work read from their SQL operators."""
    spans = rec.spans

    def under(o, pred, key="wall_s"):
        return sum(s["total"][key] if key in s["total"] else s[key]
                   for s in rec.walk(o) if pred(s))

    def med_ops(pred, key="wall_s"):
        return _med(under(o, pred, key) for o in ops)

    def sql(kind, key, metric):
        return _med(o.get("sql", {}).get(key, {}).get(metric, 0.0)
                    for o in ops if o["name"] == kind)

    out = {
        "ingest.gate_s": med_ops(lambda s: s["name"] == "ingest.fresh_feeds"),
        "ingest.purge_s": med_ops(lambda s: s["name"] == "ingest.purge_rejected"),
        "ingest.driver_gap_s": med_ops(lambda s: s["name"] == "ingest.run_ingest",
                                       "driver_gap_s"),
        "upsert.s": med_ops(lambda s: s["layer"] == "upsert"
                            and s["name"] != "upsert.last_writer_wins"),
        "compaction.s": med_ops(lambda s: s["layer"] == "compaction"),
        "compaction.bytes_rewritten": med_ops(
            lambda s: s["layer"] == "compaction", "output_bytes"),
        "cve_feed.bytes_read": sql("refresh", "Scan json", "size of files read"),
        "flatten.rows_out": sql("refresh", "Generate", "number of output rows"),
        "upsert.lww_shuffle_bytes": sql("refresh", "Exchange", "shuffle bytes written"),
        "text.python_udf_s": sql("admit", "ArrowEvalPython",
                                 "time to run Python workers"),
        "text.rows_shingled": sql("admit", "ArrowEvalPython", "number of output rows"),
        "dedup.probe_s": med_ops(lambda s: s["name"].startswith("dedup.incremental")),
        "dedup.append_s": med_ops(lambda s: s["name"].startswith("dedup.write_banded")),
        "dedup.maintain_s": sum(s["wall_s"] for s in spans
                                if s["name"] == "dedup.maintain_signature_table"),
        "graph.cc_s": sum(s["wall_s"] for s in spans if s["layer"] == "graph"),
        "corpus.s": sum(s["wall_s"] for s in spans if s["layer"] == "corpus"),
        "export.s": sum(s["wall_s"] for s in spans if s["layer"] == "export"),
    }
    reads: dict[str, list[float]] = {}
    for s in spans:
        if s["name"].startswith("query_layer.") and s["name"] != "query_layer.register_nvd_views":
            reads.setdefault(s["name"], []).append(1e3 * s["wall_s"])
    for name, xs in reads.items():
        out[f"{name}.ms_p50"] = median(xs)
    out["query_layer.view_register_s"] = _med(
        s["wall_s"] for s in spans if s["name"] == "query_layer.register_nvd_views")
    for s in spans:
        if s["layer"] == "plans":
            for k in ("jobs", "stages", "shuffle_bytes"):
                out[f"{s['name']}.{k}"] = s["total"][k]
            out[f"{s['name']}.s"] = s["wall_s"]
    return out
