"""The benchmark workloads: inputs, the timed operation, and its checks.

Each workload is a closed loop with one client: the next operation starts
only when the previous one has returned and its output is collected.
Every timed operation runs in its own ``scoped_persists()`` scope, released
before the next starts, so no cache carries over between operations.

* ``batch-web`` — the batch faces of the engine on
  ``generate_pages_fast`` corpora (70% originals, 20% near-duplicates, 5%
  exact copies, 5% substring embeds, boilerplate on 30%): ``pipeline.
  dedup`` of a large corpus to materialized clusters, then
  ``MinHashNeighbors(fast=False, n_neighbors=3, number_of_hash_functions=
  32, max_bin_size=50)`` fit and self-query ``kneighbors`` on the token-id
  features of a small one. Exercises featurize and its kernels, the
  LSH/verify/substring/CC stages, and the api layer's index build,
  collision join and exact re-rank, which run nowhere else.
* ``incremental-snapshots`` — ``IncrementalDedup.process`` over equal
  snapshots appended to a ``Catalog`` while its store grows three-fold.
  Puts catalog writes beside reads, is dominated by fixed per-job cost,
  and shows any work that scales with the store instead of the delta.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd

from perfbench import checks, gen

#: truth pairs below this exact Jaccard are not duplicates for the engine
#: (webdedup.config.DedupConfig.jaccard_threshold, the default the
#: workloads run with)
JACCARD_THRESHOLD = 0.8


class Workload:
    name = ""
    size: dict = {}
    #: the timed loop runs at least min_ops and at most max_ops operations
    min_ops = 1
    max_ops = 50
    #: an operation whose scores fall below these counts as failed
    min_scores = {
        "planted_recall": checks.MIN_RECALL,
        "merge_precision": checks.MIN_PRECISION,
    }
    #: True when each operation grows a store the next one reads
    grows_store = False

    def build(self, out_dir: str, seed: int) -> None:
        raise NotImplementedError

    def load(self, in_dir: str, seed: int) -> None:
        """Read the cached inputs the checks need (untimed)."""

    def warm_up(self, spark) -> None:
        """The untimed pass that ends set-up."""
        self.op(spark)

    def before_op(self, spark) -> None:
        """Untimed preparation of the next operation's input."""

    def op(self, spark):
        """One timed operation; returns its collected output."""
        raise NotImplementedError

    def pages(self) -> int:
        """Input pages one operation processes."""
        raise NotImplementedError

    def check(self, out) -> tuple[dict, str]:
        """Quality metrics of one operation's output and its digest."""
        raise NotImplementedError

    def final_check(self, spark):
        """Checks that need the whole run (None when per-op checks cover it)."""
        return None

    def close(self) -> None:
        pass


def _dedup_scores(cluster_of: dict, truth: pd.DataFrame) -> dict:
    """Recall over the truth pairs whose two pages were processed;
    precision against the whole truth graph, so two processed copies of a
    page not yet processed still count as truth partners."""
    pairs = checks.dedup_truth(truth, JACCARD_THRESHOLD)
    pairs = pairs[pairs.url_a.isin(cluster_of) & pairs.url_b.isin(cluster_of)]
    return {
        "planted_recall": checks.planted_recall(
            cluster_of, zip(pairs.url_a, pairs.url_b)),
        "merge_precision": checks.merge_precision(
            cluster_of, zip(truth.url_a, truth.url_b)),
    }


class BatchWeb(Workload):
    name = "batch-web"
    #: ``n`` pages to dedup; kneighbors runs on a corpus of its own of
    #: ``knn`` pages (every page a query), so the dense exact-Jaccard check
    #: stays small and near-duplicate families stay whole
    size = {"n": 10000, "knn": 500, "files": 4}
    K = 3
    min_scores = {
        "planted_recall": checks.MIN_RECALL,
        "merge_precision": checks.MIN_PRECISION,
        "knn_exact": 1.0,
        "knn_recall": checks.MIN_KNN_RECALL,
    }

    def build(self, out_dir, seed):
        pages, truth = gen.web_corpus(self.size["n"], seed)
        small, _ = gen.web_corpus(self.size["knn"], seed)
        files = self.size["files"]
        gen.write_parquet_dir(pages, os.path.join(out_dir, "pages"), files)
        gen.write_parquet_dir(small, os.path.join(out_dir, "small"), files)
        gen.write_parquet_dir(gen.token_features(small),
                              os.path.join(out_dir, "features"), files)
        truth.to_parquet(os.path.join(out_dir, "truth.parquet"), index=False)

    def load(self, in_dir, seed):
        self.in_dir = in_dir
        self.truth = pd.read_parquet(os.path.join(in_dir, "truth.parquet"))
        self.texts = list(pd.read_parquet(os.path.join(in_dir, "pages")).text)
        feats = pd.read_parquet(os.path.join(in_dir, "features")).sort_values("id")
        self.features = [np.asarray(f, dtype=np.int64) for f in feats.features]

    def warm_up(self, spark):
        """The operation with the small corpus in place of the large one:
        every stage compiles and the Python workers start, at a fraction of
        the timed work."""
        self._dedup_and_knn(spark, "small")

    def op(self, spark):
        return self._dedup_and_knn(spark, "pages")

    def _dedup_and_knn(self, spark, pages_dir):
        from webdedup import pipeline
        from webdedup.api import MinHashNeighbors
        from webdedup.joins import scoped_persists

        with scoped_persists() as scope:
            nn = None
            try:
                res = pipeline.dedup(
                    spark.read.parquet(os.path.join(self.in_dir, pages_dir)))
                try:
                    clusters = res.clusters.select("url", "cluster_id").toPandas()
                finally:
                    res.release()
                nn = MinHashNeighbors(
                    fast=False, n_neighbors=self.K, number_of_hash_functions=32,
                    max_bin_size=50,
                ).fit(spark.read.parquet(os.path.join(self.in_dir, "features")))
                knn = nn.kneighbors().select(
                    "query_id", "cand_id", "distance").toPandas()
                return clusters, knn
            finally:
                # fit() persists the fitted frame outside any scope
                if nn is not None and nn._fitted is not None:
                    nn._fitted.unpersist()
                scope.release()

    def pages(self):
        return self.size["n"]

    def check(self, out):
        clusters, knn = out
        cluster_of = dict(zip(clusters.url, clusters.cluster_id))
        returned: dict = {}
        for q, c, d in zip(knn.query_id, knn.cand_id, knn.distance):
            returned.setdefault(int(q), []).append((int(c), float(d)))
        recall, exact = checks.knn_scores(
            self.features, np.arange(len(self.features)), returned, self.K)
        scores = {**_dedup_scores(cluster_of, self.truth),
                  "knn_recall": recall, "knn_exact": exact}
        digest = checks.partition_digest(cluster_of) + checks.edge_digest(
            zip(knn.query_id, knn.cand_id))
        return scores, digest


class IncrementalSnapshots(Workload):
    name = "incremental-snapshots"
    size = {"snapshot": 100, "slices": 3, "files": 1}
    min_ops = 2
    max_ops = 2  # one slice feeds the warm-up
    grows_store = True

    def build(self, out_dir, seed):
        n = self.size["snapshot"] * self.size["slices"]
        pages, truth = gen.web_corpus(n, seed)
        for i, sl in enumerate(gen.snapshot_slices(pages, self.size["slices"], seed)):
            gen.write_parquet_dir(sl, os.path.join(out_dir, f"slice-{i:03d}"),
                                  self.size["files"])
        truth.to_parquet(os.path.join(out_dir, "truth.parquet"), index=False)

    def load(self, in_dir, seed):
        self.in_dir = in_dir
        self.truth = pd.read_parquet(os.path.join(in_dir, "truth.parquet"))
        self.texts = list(pd.read_parquet(os.path.join(in_dir, "slice-000")).text)
        self.work_root = None
        self.next_slice = 0

    def _reset(self, spark):
        from webdedup.catalog import Catalog
        from webdedup.incremental import IncrementalDedup

        self.work_root = tempfile.mkdtemp(prefix="incremental-")
        self.source = Catalog(os.path.join(self.work_root, "source"))
        self.inc = IncrementalDedup(
            spark, self.source, os.path.join(self.work_root, "work"))
        self.next_slice = 0

    def warm_up(self, spark):
        self._reset(spark)
        self.before_op(spark)
        self.op(spark)

    def before_op(self, spark):
        """Land the next slice as a new source snapshot."""
        path = os.path.join(self.in_dir, f"slice-{self.next_slice:03d}")
        self.source.append("pages", spark.read.parquet(path))
        self.next_slice += 1

    def op(self, spark):
        from webdedup.joins import scoped_persists

        with scoped_persists() as scope:
            try:
                return self.inc.process()
            finally:
                scope.release()

    def pages(self):
        return self.size["snapshot"]

    def check(self, out):
        if not out:
            raise RuntimeError("process() found no new snapshot")
        return {}, ""

    def final_check(self, spark):
        docs = self.inc.work.read(spark, "docs").select("doc_id", "url").toPandas()
        labels = self.inc.clusters().toPandas()
        cl = docs.merge(labels, on="doc_id")
        cluster_of = dict(zip(cl.url, cl.cluster_id))
        return _dedup_scores(cluster_of, self.truth), checks.partition_digest(cluster_of)

    def close(self):
        if self.work_root:
            shutil.rmtree(self.work_root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (BatchWeb, IncrementalSnapshots)}
