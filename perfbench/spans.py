"""Span recorder and Spark status-store reader for the traced run.

The recorder wraps module attributes the program calls through (for
example ``ingest.write_upsert_parquet``) so that every call becomes a
span. Each span runs under its own Spark job group; when it ends, the
recorder reads the jobs of that group from the status stores (the
1,000-entry retention would evict them later) and keeps the figures in
memory. Nothing is written until the run ends.

Per span the recorder keeps ``wall_s``, ``jobs``, ``stages``, ``tasks``,
``executor_cpu_s``, ``shuffle_bytes``, ``spill_bytes``, ``input_bytes``,
``output_bytes``, ``failed_tasks`` and ``driver_gap_s`` (wall time minus
the union of the span's job intervals), plus, from the SQL store, the
per-operator metrics of the SQL executions its jobs belong to. Lazy
layers (``read_feed``, ``flatten_cve``, ``last_writer_wins``) only build
plans; their executed work is found there, as the JSON scan, Generate,
Window and Exchange operators.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import threading
import time

SPAN_FIELDS = ("wall_s", "jobs", "stages", "tasks", "executor_cpu_s",
               "shuffle_bytes", "spill_bytes", "input_bytes",
               "output_bytes", "failed_tasks", "driver_gap_s")

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A SQL metric as the status store formats it → number (bytes,
    seconds or a count). Summary metrics read
    ``'total (min, med, max ...)\\n12.3 MiB (...)'``; the total is kept."""
    if text is None:
        return None
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StatusReader:
    """Reads job, stage and SQL-operator figures for one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.sql_seen = 0
        self.pending: dict[int, set[int]] = {}

    @staticmethod
    def _seq(seq) -> list:
        # Seq.apply per element: converting through CollectionConverters
        # costs a reflective lookup per call, 100x slower over py4j
        return [seq.apply(i) for i in range(seq.length())]

    @staticmethod
    def _ints(seq) -> list[int]:
        text = seq.mkString(",")
        return [int(x) for x in text.split(",")] if text else []

    def group(self, gid: str) -> dict:
        """Totals over the jobs of ``gid``, with their wall intervals."""
        out = dict.fromkeys(SPAN_FIELDS, 0.0)
        out["intervals"] = []
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(gid))
        out["job_ids"] = job_ids
        for jid in job_ids:
            job = self.store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t1 = comp.get().getTime() if comp.isDefined() else time.time() * 1e3
                out["intervals"].append((sub.get().getTime() / 1e3, t1 / 1e3))
            out["jobs"] += 1
            out["failed_tasks"] += job.numFailedTasks()
            for sid in self._ints(job.stageIds()):
                for sd in self._seq(self.store.stageData(
                        sid, False, None, False, self.no_quantiles)):
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
                    out["input_bytes"] += sd.inputBytes()
                    out["output_bytes"] += sd.outputBytes()
        return out

    def sql_operators(self, job_ids: set[int]) -> dict:
        """Per-operator metric totals of the SQL executions whose jobs are
        in ``job_ids``: ``{operator: {metric: total}}``. Executions not
        claimed yet (another thread's) stay pending for their own span."""
        count = self.sql.executionsCount()
        if count > self.sql_seen:
            for ex in self._seq(self.sql.executionsList(
                    self.sql_seen, count - self.sql_seen)):
                self.pending[ex.executionId()] = set(
                    self._ints(ex.jobs().keys().toSeq()))
        self.sql_seen = count
        ops: dict[str, dict[str, float]] = {}
        for eid, jobs in list(self.pending.items()):
            if not jobs & job_ids:
                continue
            del self.pending[eid]
            # one call renders every operator with its metric values
            dot = self.sql.planGraph(eid).makeDotFile(
                self.sql.executionMetrics(eid))
            for name, metrics in parse_dot(dot):
                acc = ops.setdefault(name, {})
                for k, v in metrics.items():
                    acc[k] = acc.get(k, 0.0) + v
        return ops


_NODE = re.compile(r'labelType="html" label="(?:<br>)?<b>([^<]*)</b>(.*?)" tooltip=')


def parse_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """Operators of a rendered SQL plan graph: ``(name, {metric: value})``.
    Scan operators keep their format (``Scan json``); others their first word."""
    out = []
    for name, body in _NODE.findall(dot):
        words = name.split()
        name = " ".join(words[:2] if words[:1] == ["Scan"] else words[:1])
        metrics = {}
        for item in body.split("<br>"):
            if " total (" in item:
                key, _, rest = item.partition(" total (")
                v = parse_metric(rest.split("\\n")[-1])   # DOT escapes newlines
            elif ": " in item:
                key, _, rest = item.partition(": ")
                v = parse_metric(rest)
            else:
                continue
            if v is not None:
                metrics[key] = v
        out.append((name, metrics))
    return out


class Recorder:
    """In-memory spans around calls into the program's modules.

    ``enabled=False`` gives a recorder whose ``span`` only yields, so the
    untraced run pays nothing. ``overhead_s`` is the time the recorder
    spent reading status stores and keeping spans. ``kids`` maps a span
    id (``None`` for the top level) to its child spans.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.kids: dict[int | None, list[dict]] = {}
        self.overhead_s = 0.0
        self.sql_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            self.sc = spark.sparkContext
            self.reader = StatusReader(spark)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        gid = f"perfbench-{sid}"
        parent = stack[-1] if stack else None
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "thread": threading.current_thread().name, **attrs}
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", name)
        stack.append(rec)
        t0 = time.time()
        entry_s = time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t1 = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            g = self.reader.group(gid)
            rec.update(start=t0, end=t1, wall_s=t1 - t0)
            for k in SPAN_FIELDS[1:-1]:
                rec[k] = g[k]
            rec["own_intervals"] = g["intervals"]
            rec["own_job_ids"] = g["job_ids"]
            with self._lock:
                if parent is None:
                    t_sql = time.perf_counter()
                    rec["sql"] = self.reader.sql_operators(
                        set(self._all_jobs(rec)))
                    self.sql_s += time.perf_counter() - t_sql
                self.spans.append(rec)
                self.kids.setdefault(rec["parent"], []).append(rec)
                self.overhead_s += entry_s + time.perf_counter() - t_out

    def _all_jobs(self, rec: dict) -> list[int]:
        return [j for s in self.walk(rec) for j in s.get("own_job_ids", [])]

    def walk(self, root: dict):
        """``root`` and every span below it."""
        todo = [root]
        while todo:
            s = todo.pop()
            yield s
            todo += self.kids.get(s["id"], [])

    def wrap(self, module, attr: str, layer: str, inspect=None):
        """Replace ``module.attr`` with a spanned wrapper, named
        ``<layer>.<attr>``, until ``restore``. ``inspect(span, *args,
        **kwargs)``, if given, runs inside the span before the call."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        label = f"{layer}.{attr}"

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(label, layer) as s:
                if inspect is not None:
                    t0 = time.perf_counter()
                    inspect(s, *args, **kwargs)
                    with self._lock:
                        self.overhead_s += time.perf_counter() - t0
                out = fn(*args, **kwargs)
                if isinstance(out, (dict, int)):
                    s["result"] = out
                return out

        self.patch(module, attr, spanned)

    def patch(self, module, attr: str, new) -> None:
        """Replace ``module.attr`` with ``new`` until ``restore``, traced
        or not."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def finish(self) -> list[dict]:
        """Close the books: totals including child spans, and the driver
        gap (wall minus the union of all job intervals under the span)."""
        kids = self.kids

        def total(s: dict) -> tuple[dict, list]:
            agg = {k: s[k] for k in SPAN_FIELDS[1:-1]}
            iv = list(s["own_intervals"])
            child_wall = 0.0
            for c in kids.get(s["id"], []):
                ca, civ = total(c)
                for k in agg:
                    agg[k] += ca[k]
                iv += civ
                child_wall += c["wall_s"]
            s["total"] = dict(agg, wall_s=s["wall_s"],
                              driver_gap_s=max(0.0, s["wall_s"] - _union_s(
                                  [(max(a, s["start"]), min(b, s["end"]))
                                   for a, b in iv if b > s["start"]])))
            s["self_s"] = max(0.0, s["wall_s"] - child_wall)
            return agg, iv

        for s in kids.get(None, []):
            total(s)
        for s in self.spans:
            s.pop("own_intervals", None)
        return self.spans

