"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch-web --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is the separate traced run that reports the
per-layer metrics (see perfbench/README.md). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every operation succeeded and passed its checks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: no operation starts after this much wall time, so a run ends well
#: inside its 180 s limit even on a slow host
DEADLINE_S = 120.0
#: the traced run times one untraced (U) operation, then one traced (T)
#: one; trace.overhead_s is the difference of the two
TRACE_PLAN = ("U", "T")
#: Spark driver heap for every run (see _configure_env)
DRIVER_MEM = "4g"
#: an operation slower than this counts as failed (a timeout)
OP_TIMEOUT_S = 120.0

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "snapshot_growth": "ratio",
    "peak_rss_mb": "MB",
    "planted_recall": "ratio",
    "merge_precision": "ratio",
    "knn_recall": "ratio",
    "ok_rate": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env() -> dict:
    """Keep every file the run writes inside the checkout, and let the
    Spark Python workers import the engine from it."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a fixed driver heap, committed and touched whole at JVM start
    # (-Xms = -Xmx, AlwaysPreTouch): left to grow, the heap's resident
    # size follows the collector's sizing decisions, not the program (peak
    # RSS spread 4.4-9.4 GB with the engine's 8g default and 3.3-4.5 GB of
    # JVM alone at 4g between runs of one workload on a 4-core host), which
    # buries any real change in peak_rss_mb
    os.environ["WEBDEDUP_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
    }


def start_spark(extra: dict):
    from webdedup import session

    cores = len(os.sched_getaffinity(0))
    spark = session.get_spark(
        "perfbench", cores=cores, shuffle_partitions=max(2 * cores, 16),
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _write_atomic(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


def engine_fingerprint(pkg: str = os.path.join(ROOT, "webdedup")) -> str:
    """Digest of every file of the engine package, so outputs are compared
    only between runs of the same engine code."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".pyc"):
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _check_digest(wl, seed: int, digest: str, ops: int) -> bool:
    """The output of one seed must not change between runs of one engine
    tree; a changed engine starts a fresh reference."""
    key = "-".join(f"{k}{v}" for k, v in sorted(wl.size.items()))
    path = os.path.join(CACHE, "digests", engine_fingerprint(),
                        f"{wl.name}-seed{seed}-{key}-ops{ops}")
    if os.path.exists(path):
        with open(path) as f:
            return f.read() == digest
    _write_atomic(path, digest)
    return True


class Outcome:
    """Per-run tally: operation times by mode, quality scores, digests."""

    def __init__(self, wl):
        self.wl = wl
        self.times = {"U": [], "T": []}
        self.attempted = self.failed = 0
        self.scores: list = []
        self.digests: set = set()

    def score(self, scores: dict, digest: str) -> None:
        """Record one output's scores; a score below its floor is a failure."""
        self.scores.append(scores)
        self.digests.add(digest)
        if any(scores[k] < v for k, v in self.wl.min_scores.items()):
            print(f"check failed: {scores}", file=sys.stderr)
            self.failed = min(self.attempted, self.failed + 1)


def _run_op(wl, spark, tracer, mode: str, out: Outcome) -> None:
    """One closed-loop operation: untimed input step, timed op, checks."""
    out.attempted += 1
    try:
        wl.before_op(spark)
        t0 = time.perf_counter()
        if mode == "T":
            tracer.enabled = True
            with tracer.span("perfbench.op"):
                result = wl.op(spark)
        else:
            result = wl.op(spark)
        dt = time.perf_counter() - t0
        scores, digest = wl.check(result)
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc()
        out.failed += 1
        return
    finally:
        if tracer:
            tracer.enabled = False
    out.times[mode].append(dt)
    if dt > OP_TIMEOUT_S:
        print(f"check failed: operation took {dt:.1f} s", file=sys.stderr)
        out.failed += 1
    elif scores:
        out.score(scores, digest)


def run(args, extra: dict) -> dict:
    from perfbench import gen, layers
    from perfbench.checks import quarter_growth
    from perfbench.rss import TreeRssSampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    in_dir = gen.cached_inputs(
        CACHE, wl.name, args.seed, wl.size, lambda d: wl.build(d, args.seed))
    wl.load(in_dir, args.seed)

    tracer = layers.Tracer(f"{wl.name}-seed{args.seed}-{os.getpid()}") if args.trace else None
    if tracer:
        tracer.install()
        # every traced layer's output is persisted, so later plans nest many
        # cached plans and the plan string the SQL status store builds for
        # each execution grows with them; the cap took the traced third
        # incremental snapshot from ~74 s to ~46 s on a 4-core host
        extra = {**extra, "spark.sql.maxPlanStringLength": "65536"}
    sampler = TreeRssSampler().start()
    t_run = time.perf_counter()
    spark = None
    out = Outcome(wl)
    try:
        if tracer:
            tracer.enabled = True  # only session.get_spark is traced in set-up
        spark = start_spark(extra)
        if tracer:
            tracer.enabled = False
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t_run

        t_loop = time.perf_counter()
        while time.perf_counter() - t_run < DEADLINE_S:
            if tracer:
                if out.attempted == len(TRACE_PLAN):
                    break
                _run_op(wl, spark, tracer, TRACE_PLAN[out.attempted], out)
                continue
            if out.attempted >= wl.max_ops or (
                    out.attempted >= wl.min_ops
                    and time.perf_counter() - t_loop >= args.seconds):
                break
            _run_op(wl, spark, None, "U", out)
        final = wl.final_check(spark) if out.attempted > out.failed else None
        if final is not None:
            out.score(*final)
        if len(out.digests) > 1 or (out.digests and not _check_digest(
                wl, args.seed, next(iter(out.digests)), out.attempted)):
            print("check failed: output differs between runs", file=sys.stderr)
            out.failed = max(out.failed, 1)
        if tracer:
            spark_stats = tracer.spark_metrics(spark)
            tracer.write(os.path.join(CACHE, "traces", f"{tracer.run_id}.json"),
                         spark_stats)
    finally:
        wl.close()
        if tracer:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        peak_rss_mb = sampler.stop()

    times = out.times["U"] + out.times["T"]
    print(f"{wl.name} seed {args.seed}: setup {setup_s:.2f} s, op times "
          f"{[round(t, 2) for t in times]}, scores {out.scores[-1:]}")
    if not times or not out.scores:
        return {"correct": False, "attempted": out.attempted,
                "failed": out.attempted, "metrics": {}}
    if tracer:
        from webdedup.config import DedupConfig

        u, t = out.times["U"], out.times["T"]
        knn = [s["knn_recall"] for s in out.scores if "knn_recall" in s]
        values = layers.layer_report(
            tracer.spans, spark_stats,
            layers.kernel_timings(wl.texts[:4096], DedupConfig()),
            t[0] - u[0] if t and u else 0.0,
            statistics.median(knn) if knn else 0.0)
        units = dict(layers.layer_metric_names())
    else:
        values = {
            "setup_s": setup_s,
            "pages_per_s": wl.pages() * len(times) / sum(times),
            "snapshot_growth": quarter_growth(times) if wl.grows_store else 1.0,
            "peak_rss_mb": peak_rss_mb,
            "planted_recall": statistics.median(
                s["planted_recall"] for s in out.scores),
            "merge_precision": statistics.median(
                s["merge_precision"] for s in out.scores),
            # 1.0 on a workload that runs no kneighbors, as snapshot_growth
            # is on one without a store
            "knn_recall": statistics.median(
                s.get("knn_recall", 1.0) for s in out.scores),
            "ok_rate": (out.attempted - out.failed) / out.attempted,
        }
        units = END_TO_END
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import webdedup  # noqa: F401 — the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    # before pandas or Spark are imported, so their temp files land here too
    extra = _configure_env()
    result = run(args, extra)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
