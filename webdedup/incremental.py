"""Checkpoint-resumable incremental dedup over catalog snapshots.

North-rule requirement: "checkpoint-resumable per Iceberg snapshot with
per-partition lineage and counters". Each source snapshot is processed
exactly once (the set-oriented ``partial_fit``, reference S2 /
sparseMatrix.h:187-231 — append, never reallocate). Steps 1-4 are the
shared dedup core, :func:`webdedup.pipeline.dedup_delta`, run against the
stored reps, features and texts:

1. new docs → fingerprint; exact dups of *known* texts short-circuit to an
   exact edge (compute-once-per-unique-row, inverseIndex.cpp:442-464)
2. new unique docs → featurize → appended to the features store
3. LSH band, SimHash block and substring-fingerprint candidates, all
   new × all: the hot-bucket census spans the whole store, but only new
   rows join on the left, so every pair has >= 1 new side (old-old pairs
   were found when "old" was new) and the join work follows the delta
4. verify → edges appended; connected components re-resolved over the full
   edge store (cheap: edges ~ O(dups), not O(corpus))
5. state.json advanced ONLY after outputs land; a crash mid-run leaves
   state behind and the next run rolls the work stores back to the last
   committed state before reprocessing (idempotent resume).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from webdedup.catalog import Catalog
from webdedup.components import connected_components
from webdedup.config import DedupConfig
from webdedup.joins import scoped_persists, track_persist
from webdedup.metrics import partition_lineage
from webdedup.pipeline import FEATURE_COLS, KnownStore, dedup_delta
from webdedup.signatures import make_substring_fp_udf

# The stage functions run inside pipeline.dedup_delta. Their names stay
# bound here as well, because per-module instrumentation (perfbench's
# tracer) wraps them on every engine module that names them.
from webdedup.joins import semi_join_ids  # noqa: E402, F401
from webdedup.signatures import featurize  # noqa: E402, F401
from webdedup.substring import substring_pairs  # noqa: E402, F401

DOCS = "docs"          # (doc_id, url, fingerprint, src_snapshot)
FEATURES = "features"  # (doc_id, text, shingles, bands, simhash, n_shingles, substr_fps, src_snapshot)
EDGES = "edges"        # (a, b, jaccard, kind, src_snapshot)


class IncrementalDedup:
    def __init__(
        self,
        spark: SparkSession,
        source: Catalog,
        work_root: str,
        cfg: DedupConfig | None = None,
    ):
        self.spark = spark
        self.source = source
        self.cfg = cfg or DedupConfig()
        self.work = Catalog(os.path.join(work_root, "store"))
        self.work_root = work_root
        os.makedirs(work_root, exist_ok=True)
        self.state_path = os.path.join(work_root, "state.json")

    # ---- state ----

    def _state(self) -> dict:
        if not os.path.exists(self.state_path):
            return {"processed_snapshot": None, "work_snaps": {}}
        with open(self.state_path) as f:
            return json.load(f)

    def _commit_state(self, st: dict) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f, indent=1)
        os.replace(tmp, self.state_path)

    def _rollback_partial(self, st: dict) -> None:
        """Remove any work-store snapshots not recorded in committed state
        (debris from a run that died before its state commit)."""
        committed = {
            t: max(
                (v[t] for v in st["work_snaps"].values() if t in v),
                default=None,
            )
            for t in (DOCS, FEATURES, EDGES)
        }
        for t in (DOCS, FEATURES, EDGES):
            if not self.work.exists(t):
                continue
            keep = committed[t]
            m = self.work._load(t)
            bad = [s for s in m["snapshots"] if keep is None or s["id"] > keep]
            if not bad:
                continue
            for s in bad:
                for fdir in {os.path.dirname(f) for f in s["files"]}:
                    shutil.rmtree(fdir, ignore_errors=True)
            m["snapshots"] = [s for s in m["snapshots"] if s not in bad]
            m["current"] = keep
            self.work._store(t, m)

    # ---- main ----

    def process(self, table: str = "pages", text_col: str = "text") -> dict | None:
        """Process all unprocessed source snapshots; returns run metrics or
        None when already up to date. Safe to re-run after a crash.

        All caches this run persists (explicit + helper-tracked) are scoped
        to the run and released before returning — a concurrent dedup()'s
        caches in the same driver are never evicted (ADVICE r3)."""
        with scoped_persists() as scope:
            try:
                return self._process_impl(table, text_col)
            finally:
                # every output is on disk by the time _process_impl returns
                # (or the run failed); drop this run's caches so a long-lived
                # driver (streaming continuous mode) doesn't accumulate
                # MEMORY_AND_DISK blocks per micro-batch without bound
                scope.release()

    def _process_impl(self, table: str, text_col: str) -> dict | None:
        cfg = self.cfg
        st = self._state()
        cur = self.source.current_snapshot(table)
        last = st["processed_snapshot"]
        if cur is None or cur == last:
            return None
        self._rollback_partial(st)

        new = self.source.read_incremental(
            self.spark, table, after=last, upto=cur, snapshot_col="src_snapshot"
        )
        # doc identity = one CRAWL EVENT of a url, keyed (url, snapshot):
        # a recrawled url whose text changed must not collide with its old
        # row (a bare xxhash64(url) id would accumulate two different
        # fingerprint/shingle rows under one id, corrupting verify joins and
        # cluster labels). A recrawl with identical text links to the old
        # representative through the exact-dup path like any duplicate.
        # The snapshot in the key is each row's ACTUAL source snapshot (one
        # process() call may drain several pending snapshots; stamping all
        # of them with the upper bound would re-merge two crawl events of
        # the same url into one id — the corruption this keying prevents).
        new = new.withColumn(
            "doc_id", F.xxhash64("url", F.col("src_snapshot").cast("string"))
        )

        # -- the known side: stored reps, features and texts.
        # Stored substr_fps are TRUSTED only when the store's manifest meta
        # records the exact fps config (k, window, pass enabled) in effect
        # now (ADVICE r3 medium): featurize always writes the column — empty
        # arrays when the pass is off, values frozen at write-time k/window —
        # so column presence alone would silently miss substring duplicates
        # against previously stored docs after a config change. On any
        # mismatch (or a pre-meta store) the fingerprint UDF recomputes the
        # stored docs' fps under the current config.
        fps_cfg = {
            "substr_k": cfg.substring_k,
            "substr_window": cfg.substring_window,
            "enabled": bool(cfg.use_substring_pass),
        }
        known = None
        store_has_col = True
        if self.work.exists(FEATURES):
            stored = self.work.read(self.spark, FEATURES)
            store_has_col = "substr_fps" in stored.columns
            stored = stored.select(
                text_col, *(c for c in FEATURE_COLS if c in stored.columns)
            )
            fps_trusted = (
                store_has_col
                and self.work.meta(FEATURES).get("substr_fps_cfg") == fps_cfg
            )
            if cfg.use_substring_pass and not fps_trusted:
                stored = stored.withColumn(
                    "substr_fps", make_substring_fp_udf(cfg)(text_col)
                )
            known = KnownStore(
                reps=self.work.read(self.spark, DOCS)
                .groupBy("fingerprint")
                .agg(F.min("doc_id").alias("rep_id")),
                # read by every candidate stage, verify and the texts side
                features=track_persist(stored),
                n_docs=self.work.row_count(DOCS),
            )
        # footer-derived size bound: |any new id set| <= batch rows
        n_batch = self.source.row_count(table, after=last, upto=cur)
        delta = dedup_delta(new, cfg, n_batch, known=known, text_col=text_col)
        mx = delta.metrics

        # -- append to stores (forces execution → observations harvestable)
        snap_ids = {}
        snap_ids[DOCS] = self.work.append(
            DOCS,
            mx.observe(delta.docs, "pages_in").select(
                "doc_id", "url", "fingerprint", "src_snapshot"
            ),
        )
        # the features store keeps each row's text (later deltas verify
        # substring candidates against it); the core's cache is text-free
        feat_store = (
            delta.features.join(delta.docs.select("doc_id", text_col), "doc_id")
            .select("doc_id", text_col, *FEATURE_COLS[1:])
            .withColumn("src_snapshot", F.lit(cur))
        )
        if not store_has_col:
            # keep a pre-fused-featurize store's parquet schema uniform
            feat_store = feat_store.drop("substr_fps")
            fps_meta = None
        elif not self.work.exists(FEATURES):
            # first append records the config the stored fps obey
            fps_meta = {"substr_fps_cfg": fps_cfg}
        elif self.work.meta(FEATURES).get("substr_fps_cfg") == fps_cfg:
            fps_meta = None  # unchanged — keep the recorded config
        else:
            # config changed mid-store: old rows' fps obey the old config,
            # this batch's the new one — poison the meta so no future run
            # ever trusts the mixed column
            fps_meta = {"substr_fps_cfg": {"mixed": True}}
        snap_ids[FEATURES] = self.work.append(
            FEATURES, feat_store, meta_update=fps_meta
        )
        snap_ids[EDGES] = self.work.append(
            EDGES, delta.edges.withColumn("src_snapshot", F.lit(cur))
        )

        # -- resolve clusters over the full graph
        all_docs = self.work.read(self.spark, DOCS).select(
            F.col("doc_id").alias("id")
        ).distinct()
        all_edges = self.work.read(self.spark, EDGES).select("a", "b")
        labels = connected_components(all_docs, all_edges)
        clusters_path = os.path.join(self.work_root, "clusters")
        labels.withColumnRenamed("id", "doc_id").write.mode("overwrite").parquet(
            clusters_path
        )

        # -- lineage + metrics, then commit state (ordering = crash safety)
        mx.extra["partition_lineage"] = partition_lineage(
            self.work.read(self.spark, FEATURES)
        )
        mx.extra["source_snapshot"] = cur
        metrics = mx.save(os.path.join(self.work_root, f"metrics-snap{cur:06d}.json"))

        st["processed_snapshot"] = cur
        st["work_snaps"][str(cur)] = snap_ids
        self._commit_state(st)

        return metrics

    def clusters(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.work_root, "clusters"))
