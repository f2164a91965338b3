"""Outside-in layer tracing: spans around the engine's public functions.

``Tracer.install()`` replaces each traced function at the sites where the
engine looks it up (``webdedup.pipeline.featurize``, ``webdedup.lsh.
candidate_pairs``, ``Catalog.append`` ...) with a wrapper that

* records a span (name, start, end, parent, run id) in memory,
* tags the span's Spark jobs with the job description ``<name>#<span id>``,
* materializes a returned DataFrame (persisted into the active persist
  scope, then counted), so the span holds that layer's work.

Afterwards ``spark_metrics`` reads the SQL status store and the core
status store for every execution tagged with a span id: Python-worker
start/init/run time, shuffle write, spill, peak execution memory and
failed tasks. No engine file changes; ``uninstall()`` restores every
original function.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: traced layer -> the statistics reported for it (beyond peak_mem_mb and
#: tasks_failed, which every Spark-backed span reports)
SPAN_STATS = {
    "session.get_spark": ("self_s",),
    "pipeline.dedup": ("self_s",),
    "joins.semi_join_ids": ("self_s", "broadcast"),
    "signatures.featurize": (
        "self_s", "rows_out", "py_init_s", "py_run_s", "spill_mb", "kernel_share",
    ),
    "lsh.candidate_pairs": ("self_s", "rows_in", "rows_out", "shuffle_write_mb"),
    "lsh.simhash_candidate_pairs": (
        "self_s", "rows_in", "rows_out", "shuffle_write_mb", "scan_ratio",
    ),
    "verify.verified_pairs": ("self_s", "rows_in", "rows_out", "yield"),
    "substring.substring_pairs": (
        "self_s", "rows_in", "rows_out", "shuffle_write_mb", "scan_ratio",
    ),
    "components.connected_components": ("self_s", "rows_in", "rows_out"),
    "incremental.IncrementalDedup.process": ("self_s",),
    "catalog.Catalog.append": ("self_s",),
    "catalog.Catalog.read": ("self_s",),
    "api.MinHashNeighbors.fit": (
        "self_s", "rows_out", "shuffle_write_mb", "spill_mb", "peak_mem_mb",
    ),
    "api.MinHashNeighbors.kneighbors": (
        "self_s", "rows_out", "shuffle_write_mb", "spill_mb", "peak_mem_mb",
        "recall_at_k",
    ),
}
SPARK_STATS = ("peak_mem_mb", "tasks_failed")
KERNELS = (
    "token_ids", "ngram_ids", "minhash_signatures", "fold_bands", "simhash64",
    "substring_fingerprints_batch",
)
UNITS = {
    "self_s": "s", "py_init_s": "s", "py_run_s": "s", "rows_in": "count",
    "rows_out": "count", "broadcast": "count", "tasks_failed": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "peak_mem_mb": "MB",
    "yield": "ratio", "scan_ratio": "ratio", "kernel_share": "ratio",
    "recall_at_k": "ratio",
}

def layer_metric_names() -> list:
    """Every per-layer metric as (name, unit), in report order."""
    out = []
    for span, stats in SPAN_STATS.items():
        extra = () if span == "session.get_spark" else SPARK_STATS
        for st in dict.fromkeys(stats + extra):
            out.append((f"{span}.{st}", UNITS[st]))
    out += [(f"kernels.{k}.s_per_kdoc", "s/kdoc") for k in KERNELS]
    out.append(("trace.overhead_s", "s"))
    return out


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    broadcast: int = 0


def covered_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """sid -> span duration minus the part its direct children cover."""
    kids: dict = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        cover = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in kids.get(sp.sid, ())
            if c.end > sp.start and c.start < sp.end
        ]
        out[sp.sid] = (sp.end - sp.start) - covered_length(cover)
    return out


_UNIT_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '2.7 s', '845 ms', '1,295',
    'total (min, med, max ...)\\n1460.5 KiB (...)' -> seconds/bytes/count."""
    line = text.split("\n")[1] if "\n" in text else text
    tok = line.split(" (")[0].strip().replace(",", "")
    parts = tok.split()
    if len(parts) == 1:
        return float(parts[0])
    return float(parts[0]) * _UNIT_SCALE[parts[1]]


_PY_METRICS = {
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self.enabled = False
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []

    # ---- spans ----

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        """Record a span (only while ``enabled``) and tag its Spark jobs."""
        if not self.enabled:
            yield None
            return
        from pyspark import SparkContext

        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].sid if stack else None,
                      self.run_id, time.perf_counter())
            self.spans.append(sp)
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"{name}#{sp.sid}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            sc = SparkContext._active_spark_context
            if sc:
                sc.setLocalProperty("spark.job.description", prev)

    # ---- wrappers ----

    def _wrap(self, name, fn, materialize, rows_in_arg):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            n_in = 0
            # the input count gets a span of its own, so it is subtracted from
            # the caller's self time like any child; "perfbench.*" spans are
            # the benchmark's own and are not reported as layers
            if rows_in_arg is not None:
                with tracer.span("perfbench.rows_in"):
                    n_in = args[rows_in_arg].count()
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                sp.rows_in = n_in
                if materialize == "frame":
                    from webdedup.joins import track_persist

                    plan = out._jdf.queryExecution().optimizedPlan().toString()
                    sp.broadcast = int("strategy=broadcast" in plan)
                    out = track_persist(out)
                    sp.rows_out = out.count()
                elif materialize == "fit":
                    sp.rows_out = out._fitted.count()
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> "Tracer":
        import webdedup.api as api
        import webdedup.catalog as catalog
        import webdedup.incremental as incremental
        import webdedup.lsh as lsh
        import webdedup.pipeline as pipeline
        import webdedup.session as session
        import webdedup.substring as substring
        import webdedup.verify as verify

        # (owner, attribute, span name, materialize, index of the input
        # frame whose row count is rows_in). Functions the engine imports
        # by name are patched at every importing module.
        sites = [
            (session, "get_spark", "session.get_spark", None, None),
            (pipeline, "dedup", "pipeline.dedup", None, None),
            (incremental.IncrementalDedup, "process",
             "incremental.IncrementalDedup.process", None, None),
            (catalog.Catalog, "append", "catalog.Catalog.append", None, None),
            (catalog.Catalog, "read", "catalog.Catalog.read", "frame", None),
            (api.MinHashNeighbors, "fit", "api.MinHashNeighbors.fit", "fit", None),
            (api.MinHashNeighbors, "kneighbors",
             "api.MinHashNeighbors.kneighbors", "frame", None),
            (lsh, "candidate_pairs", "lsh.candidate_pairs", "frame", 0),
            (lsh, "simhash_candidate_pairs", "lsh.simhash_candidate_pairs",
             "frame", 0),
            (verify, "verified_pairs", "verify.verified_pairs", "frame", 0),
        ]
        for mod in (pipeline, incremental):
            sites += [
                (mod, "featurize", "signatures.featurize", "frame", None),
                (mod, "substring_pairs", "substring.substring_pairs", "frame", 0),
                (mod, "connected_components",
                 "components.connected_components", "frame", 1),
            ]
        for mod in (pipeline, incremental, verify, substring):
            sites.append((mod, "semi_join_ids", "joins.semi_join_ids", "frame", None))
        for owner, attr, name, materialize, rows_in_arg in sites:
            orig = getattr(owner, attr)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig, materialize, rows_in_arg))
        return self

    def write(self, path: str, spark_stats: dict) -> None:
        """Write every span, its self time and its Spark metrics as JSON."""
        import dataclasses
        import json

        selfs = self_times(self.spans)
        rows = [
            {**dataclasses.asdict(sp), "self_s": selfs[sp.sid],
             **spark_stats.get(sp.sid, {})}
            for sp in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- Spark status stores ----

    def spark_metrics(self, spark) -> dict:
        """sid -> summed status-store metrics of the executions the span
        itself (not a child span) started."""
        from py4j.protocol import Py4JJavaError

        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        sql = spark._jsparkSession.sharedState().statusStore()
        core = jsc.statusStore()
        out: dict = {}
        seen_stages: set = set()
        for e in _iter(sql.executionsList()):
            m = re.search(r"#(\d+)$", e.description() or "")
            if not m:
                continue
            acc = out.setdefault(int(m.group(1)), dict.fromkeys(
                ("py_init_s", "py_run_s", "shuffle_write_mb", "spill_mb",
                 "peak_mem_mb", "tasks_failed"), 0.0))
            py_ids = {
                pm.accumulatorId(): _PY_METRICS[pm.name()]
                for pm in _iter(e.metrics())
                if pm.name() in _PY_METRICS
            }
            if py_ids:
                values = sql.executionMetrics(e.executionId())
                for acc_id, stat in py_ids.items():
                    v = values.get(acc_id)
                    if v.isDefined():
                        acc[stat] += parse_sql_metric(v.get())
            for stage_id in _iter(e.stages()):
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                try:
                    st = core.lastStageAttempt(stage_id)
                except Py4JJavaError:  # no attempt: the stage was skipped
                    continue
                acc["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                acc["spill_mb"] += st.memoryBytesSpilled() / 2**20
                acc["peak_mem_mb"] = max(
                    acc["peak_mem_mb"], st.peakExecutionMemory() / 2**20
                )
                acc["tasks_failed"] += st.numFailedTasks()
        return out


def layer_report(
    spans, spark_stats: dict, kernels: dict, overhead_s: float, knn_recall: float
) -> dict:
    """Every per-layer metric name -> value for one traced run.

    Layers that did not run on the workload report 0. ``scan_ratio`` is a
    candidate stage's input rows over the pages featurized in the same
    operations: 1 when it reads only the new pages, the store-to-delta
    ratio when it rescans the whole store.
    """
    selfs = self_times(spans)
    by_name: dict = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    vals: dict = {}
    for name, stats in SPAN_STATS.items():
        sps = by_name.get(name, [])
        agg = {
            "self_s": sum(selfs[s.sid] for s in sps),
            "rows_in": sum(s.rows_in for s in sps),
            "rows_out": sum(s.rows_out for s in sps),
            "broadcast": sum(s.broadcast for s in sps),
        }
        for key in ("py_init_s", "py_run_s", "shuffle_write_mb", "spill_mb",
                    "tasks_failed"):
            agg[key] = sum(spark_stats.get(s.sid, {}).get(key, 0.0) for s in sps)
        agg["peak_mem_mb"] = max(
            (spark_stats.get(s.sid, {}).get("peak_mem_mb", 0.0) for s in sps),
            default=0.0,
        )
        agg["yield"] = agg["rows_out"] / agg["rows_in"] if agg["rows_in"] else 0.0
        featurized = sum(s.rows_out for s in by_name.get("signatures.featurize", []))
        agg["scan_ratio"] = agg["rows_in"] / featurized if featurized else 0.0
        agg["recall_at_k"] = knn_recall if sps else 0.0
        kernel_s = sum(kernels.values()) * agg["rows_out"] / 1000
        agg["kernel_share"] = kernel_s / agg["py_run_s"] if agg["py_run_s"] else 0.0
        for st in stats + (() if name == "session.get_spark" else SPARK_STATS):
            vals[f"{name}.{st}"] = agg[st]
    for k in KERNELS:
        vals[f"kernels.{k}.s_per_kdoc"] = kernels.get(k, 0.0)
    vals["trace.overhead_s"] = overhead_s
    return vals


def kernel_timings(texts: list, cfg) -> dict:
    """Seconds per 1000 docs of each featurize kernel, run in-process
    (no Spark) on ``texts`` in the order the featurize UDF calls them."""
    from webdedup import kernels as K

    n = max(1, len(texts))
    t = {}
    t0 = time.perf_counter()
    tok = [K.token_ids(x) for x in texts]
    t["token_ids"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    sh = [K.ngram_ids(x, cfg.shingle_size) for x in tok]
    t["ngram_ids"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    sigs = K.minhash_signatures(sh, cfg.number_of_hash_functions)
    t["minhash_signatures"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    K.fold_bands(sigs, cfg.rows_per_band)
    t["fold_bands"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    K.simhash64(tok)
    t["simhash64"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    K.substring_fingerprints_batch(texts, cfg.substring_k, cfg.substring_window)
    t["substring_fingerprints_batch"] = time.perf_counter() - t0
    return {k: v * 1000 / n for k, v in t.items()}
