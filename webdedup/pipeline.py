"""End-to-end near-duplicate detection + clustering pipeline.

One dedup core, :func:`dedup_delta`, runs stages 0-5 for every caller:

0. exact-duplicate split — new docs collapse onto one representative per
   text, preferring a KNOWN representative (an earlier run's doc) when
   the text is already stored;
1. featurize the new unique docs (shingle/MinHash/SimHash/substring fps,
   one Arrow pass);
2. candidates — LSH bands ∪ SimHash blocks, new × all
   (:func:`webdedup.lsh.bucket_pairs`);
3. exact Jaccard verify;
4. [substring pass] — winnowed fingerprints, new × all, contains-verify;
5. exact edges from every non-representative new doc to its rep.

Batch :func:`dedup` is one delta against an EMPTY store followed by
connected components → (url, doc_id, cluster_id);
:class:`webdedup.incremental.IncrementalDedup` passes its stored reps,
features and texts as ``known`` and resolves components over the store.
With no store every row is new and each candidate join is the plain
``a < b`` self-join.

This is the set-oriented equivalent of the reference's fused
``fit_kneighbors(X, X)`` self-query (nearestNeighbors_PythonInterface.cpp:
43-56) followed by graph clustering (cluster/minHashDBSCAN.py), re-expressed
as one Spark DAG per stage; the ``known`` store is its ``partial_fit``
(append, never rebuild). Exact duplicates are collapsed BEFORE hashing
and fanned back in afterwards — the same compute-once-per-unique-row
semantics as the reference's signature store (inverseIndex.cpp:442-464,
:571-584).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from webdedup import lsh, verify
from webdedup.components import connected_components
from webdedup.config import DedupConfig
from webdedup.joins import (
    PersistScope,
    scoped_persists,
    semi_join_ids,
    track_persist,
)
from webdedup.metrics import PipelineMetrics
from webdedup.signatures import featurize
from webdedup.substring import substring_pairs

#: the feature columns the core caches (text-free; the incremental
#: features store adds the text)
FEATURE_COLS = ["doc_id", "shingles", "bands", "simhash", "n_shingles", "substr_fps"]


@dataclass
class DedupResult:
    clusters: DataFrame        # (doc_id, url?, cluster_id)
    pairs: DataFrame           # verified (a, b, jaccard, kind)
    counters: dict = field(default_factory=dict)
    #: caches persisted by this run; call release() once clusters/pairs/
    #: counters have been fully materialized. Releasing here never touches
    #: caches belonging to other in-flight runs.
    scope: PersistScope | None = None

    def release(self) -> int:
        return self.scope.release() if self.scope is not None else 0


#: optimized-plan markers whose recompute is expensive — a cold input frame
#: containing any of these is persisted before the upfront gating count so
#: the transformation runs exactly once (a plain parquet scan, possibly with
#: pushed filters/projections, matches none of them and stays uncached: the
#: docs cache right below would otherwise double-cache the text bytes)
_EXPENSIVE_PLAN_NODES = (
    "Join", "Aggregate", "Generate", "Window", "Sort",
    "EvalPython", "InPandas", "MapPartitions", "MapElements", "Union",
)


def _recompute_is_expensive(df: DataFrame) -> bool:
    # Inspect NODE CLASS NAMES from the logical plan's JSON, not the
    # pretty-printed tree: the toString() form embeds column names and
    # file paths, so a corpus with a 'JoinDate' column or a
    # '/data/UnionSquare/' path would false-positive on substring
    # matching and double-cache a plain scan.
    import re

    try:
        plan_json = df._jdf.queryExecution().optimizedPlan().toJSON()
    except Exception:
        return True  # can't inspect — persist defensively
    classes = re.findall(r'"class"\s*:\s*"([^"]+)"', plan_json)
    node_names = {c.rsplit(".", 1)[-1] for c in classes}
    return any(
        tok in name for name in node_names for tok in _EXPENSIVE_PLAN_NODES
    )


@dataclass
class KnownStore:
    """Docs deduplicated by earlier runs — the ``known`` side of a delta."""

    reps: DataFrame      # (fingerprint, rep_id): one representative per stored text
    features: DataFrame  # FEATURE_COLS + text; substr_fps is read only with
                         # the substring pass on, and must then match cfg
    n_docs: int          # upper bound on the stored doc count


@dataclass
class Delta:
    """What :func:`dedup_delta` adds: lazy frames over the run's caches."""

    docs: DataFrame      # the new docs + fingerprint (cached)
    features: DataFrame  # FEATURE_COLS of the new unique docs (cached)
    edges: DataFrame     # (a, b, jaccard, kind), every edge with >= 1 new side
    metrics: PipelineMetrics


def dedup(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str | None = None,
) -> DedupResult:
    """Run the full dedup pipeline on a pages DataFrame.

    ``pages`` needs a text column; a ``url`` column (input_hint schema) is
    carried through to the output when present. Lineage counters (pages,
    unique texts, candidate pairs, verified dups, clusters) are computed on
    the returned DataFrames lazily via the counters dict of callables
    materialized by ``collect_counters``.

    ``pages`` is counted once up front to bound the broadcast-gating id
    sets (metadata-only for a plain file scan). A cold DERIVED frame —
    one whose optimized plan contains joins/aggregates/UDF stages — is
    persisted automatically first, so the transformation computes exactly
    once instead of once for the count and again per downstream stage.

    Caches persisted by the run are collected into ``result.scope``;
    call ``result.release()`` after materializing the outputs.
    """
    cfg = cfg or DedupConfig()
    with scoped_persists() as scope:
        result = _dedup_impl(pages, cfg, text_col, id_col)
    result.scope = scope
    return result


def _dedup_impl(
    pages: DataFrame,
    cfg: DedupConfig,
    text_col: str,
    id_col: str | None,
) -> DedupResult:
    has_url = "url" in pages.columns

    # One cheap corpus count up front (parquet footer metadata when pages is
    # a plain scan) bounds EVERY id set below — rep ids, candidate-pair ids,
    # substring-pair ids are all sets of doc ids, so |set| <= n_docs. This
    # replaces three blocking persist().count() gating actions per run
    # (VERDICT r2: their fixed job-barrier latency dominated the toy bench
    # and the parallelism-independent scaling floor). Above the broadcast
    # limit the bound stops helping and the per-call gate re-engages.
    from pyspark import StorageLevel

    if pages.storageLevel == StorageLevel.NONE and _recompute_is_expensive(pages):
        track_persist(pages)
    n_docs = pages.count()

    if id_col is not None:
        docs = pages.select(
            *(["url"] if has_url else []),
            F.col(id_col).cast("long").alias("doc_id"),
            text_col,
        )
    else:
        base_cols = ["url", text_col] if has_url else [text_col]
        id_src = "url" if has_url else text_col
        docs = pages.select(*base_cols).withColumn(
            "doc_id", F.xxhash64(F.col(id_src))
        )
    delta = dedup_delta(docs, cfg, n_docs, text_col=text_col)
    docs, edges = delta.docs, track_persist(delta.edges)

    # ---- stage 6: connected components → cluster ids
    vertices = docs.select(F.col("doc_id").alias("id"))
    labels = connected_components(vertices, edges.select("a", "b"))

    out_cols = [F.col("doc_id"), F.col("cluster_id")]
    if has_url:
        out_cols.insert(0, F.col("url"))
    # join labels to the narrow projection — never shuffle text here either
    doc_keys = docs.select(*(["url", "doc_id"] if has_url else ["doc_id"]))
    clusters = doc_keys.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id"
    ).select(*out_cols)

    counters = {
        "pages": lambda: n_docs,
        "unique_texts": lambda: delta.features.count(),
        "verified_pairs": lambda: edges.count(),
        "clusters": lambda: clusters.select("cluster_id").distinct().count(),
        "duplicate_docs": lambda: clusters.groupBy("cluster_id")
        .count()
        .where("count > 1")
        .agg(F.sum("count"))
        .collect()[0][0]
        or 0,
    }
    return DedupResult(clusters=clusters, pairs=edges, counters=counters)


def dedup_delta(
    docs: DataFrame,
    cfg: DedupConfig,
    n_docs: int,
    known: KnownStore | None = None,
    text_col: str = "text",
) -> Delta:
    """Stages 0-5 for ``docs`` (doc_id, text, any extra columns) against
    the optional ``known`` store; see the module docstring.

    ``n_docs`` bounds the row count of ``docs`` (a footer count is
    enough). Stage counters ``featurize``, ``candidates`` and ``verified``
    are observed on frames the caller's actions materialize anyway (no
    extra jobs) and harvested from ``Delta.metrics``. Caches go to the
    active persist scope; the returned frames are lazy.
    """
    mx = PipelineMetrics()
    n_all = n_docs + (known.n_docs if known is not None else 0)

    # ---- stage 0: exact-duplicate split (compute once per unique text)
    docs = track_persist(
        docs.withColumn("fingerprint", F.md5(F.col(text_col).cast("binary")))
    )
    # Narrow-column collapse: the groupBy and every join below move only
    # (fingerprint, doc_id) — the wide text column never shuffles. A known
    # representative wins over this delta's own minimum, so a new doc whose
    # text is already stored gets only an exact edge to the stored rep.
    # uniq is carved out of the cached docs scan with a size-gated semi-join
    # on rep ids: broadcast below cfg.broadcast_id_limit (rep_ids is
    # corpus-sized — one id per unique text — so an unconditional hint would
    # OOM at 10^12 docs), shuffled semi-join above it (webdedup.joins).
    ids = docs.select("fingerprint", "doc_id")
    reps = ids.groupBy("fingerprint").agg(F.min("doc_id").alias("rep_id"))
    if known is not None:
        reps = reps.join(
            known.reps.withColumnRenamed("rep_id", "known_rep"), "fingerprint", "left"
        ).select("fingerprint", F.coalesce("known_rep", "rep_id").alias("rep_id"))
    rep_ids = reps.select(F.col("rep_id").alias("doc_id"))
    uniq = semi_join_ids(
        docs, rep_ids, "doc_id", cfg.broadcast_id_limit, known_max=n_docs
    ).select("doc_id", text_col)
    exact_edges = (
        ids.join(reps, "fingerprint")
        .where(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("a"),
            F.col("doc_id").alias("b"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact").alias("kind"),
        )
    )

    # ---- stage 1: featurize new unique docs (Arrow-vectorized kernels)
    # The fused UDF emits the substring fingerprints alongside the LSH
    # features, so the text crosses the Arrow boundary ONCE. The feat cache
    # stays text-free: the substring verify pulls texts for candidate ids
    # only, from the already-cached docs (and the known store), so text
    # bytes are cached once, not twice.
    feat = featurize(
        uniq, cfg, text_col=text_col, with_substring_fps=True
    ).select(*FEATURE_COLS)
    feat = track_persist(mx.observe(
        feat,
        "featurize",
        F.count(F.lit(1)).alias("pages_shingled"),
        F.sum("n_shingles").alias("signatures_emitted"),
    ))
    # Materialize the cache BEFORE any downstream action: the LSH / SimHash
    # / verify / substring branches all consume feat inside one downstream
    # job, and concurrently scheduled stages would otherwise race past the
    # cold cache and re-run the featurize UDF once per branch. The fill
    # job runs on a background thread so the DRIVER-side construction of
    # the stage 2-5 DAG (py4j chatter, ~1.3 s of idle driver time
    # otherwise serialized behind the count) overlaps it (guide §2.6); the
    # thread is joined before this function returns, i.e. before the
    # caller's first action. Stages 2-5 are lazy ONLY below the broadcast
    # gate: above cfg.broadcast_id_limit the verify/substring stages run
    # eager semi-join gating counts (webdedup.joins), so there the thread
    # is joined BEFORE stage 2 — the overlap win is forfeited exactly
    # where gating job barriers already serialize the DAG, and no eager
    # action can ever scan the still-cold feat cache concurrently with
    # the fill.
    from pyspark import InheritableThread

    fill_err: list = []

    def _fill():
        try:
            feat.count()
        except BaseException as e:  # noqa: BLE001 — re-raised at join
            fill_err.append(e)

    fill_thread = InheritableThread(target=_fill, daemon=True)
    fill_thread.start()

    def _join_fill():
        fill_thread.join()
        if fill_err:
            raise fill_err[0]

    if n_all > cfg.broadcast_id_limit:
        _join_fill()

    # new × all from here on: known rows join the candidate stages flagged
    # is_new = false; with no store the flag is left off (all rows new)
    feat_all, texts = feat, docs
    if known is not None:
        cols = [c for c in FEATURE_COLS if c != "substr_fps" or cfg.use_substring_pass]
        feat_all = known.features.select(
            *cols, F.lit(False).alias("is_new")
        ).unionByName(feat.select(*cols, F.lit(True).alias("is_new")))
        texts = docs.select("doc_id", text_col).unionByName(
            known.features.select("doc_id", text_col)
        )

    # ---- stage 2: candidate pairs (MinHash LSH bands + SimHash blocks).
    # Per-branch multi-band dedupe is skipped when the union below collapses
    # everything anyway (dedupe once, not three times — two fewer exchanges)
    cand = lsh.candidate_pairs(feat_all, cfg, dedupe=not cfg.use_simhash)
    if cfg.use_simhash:
        sim = lsh.simhash_candidate_pairs(feat_all, cfg, dedupe=False)
        cand = cand.union(sim).dropDuplicates(["a", "b"])
    cand = mx.observe(cand, "candidates", F.count(F.lit(1)).alias("candidate_pairs"))

    # ---- stage 3: exact Jaccard verify
    near = verify.verified_pairs(
        cand, feat_all, cfg.jaccard_threshold, cfg.broadcast_id_limit,
        known_max=n_all,
    ).withColumn("kind", F.lit("near"))

    # ---- stage 4: exact-substring pass (optional)
    # texts come straight off the cached docs: candidate pair ids are rep
    # ids by construction, so the (wider) docs table joins identically to
    # uniq — and skips re-deriving the uniq semi-join once per text side
    if cfg.use_substring_pass:
        sub = substring_pairs(
            feat_all, cfg, text_col=text_col, known_max=n_all,
            fps_col="substr_fps", texts_df=texts,
        ).withColumn("kind", F.lit("substring"))
        near = near.unionByName(sub).dropDuplicates(["a", "b"])

    # ---- stage 5: fan exact duplicates back in as edges to their representative
    edges = mx.observe(
        near.unionByName(exact_edges),
        "verified",
        F.count(F.lit(1)).alias("verified_dups"),
    )
    _join_fill()
    return Delta(docs=docs, features=feat, edges=edges, metrics=mx)


def collect_counters(result: DedupResult) -> dict:
    return {k: v() for k, v in result.counters.items()}


def select_canonical(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Pick one keeper per duplicate cluster — the step a training-data
    pipeline runs after clustering: keep the highest-quality member, drop
    the rest. Order: ttr_ppm DESC (type-token ratio), n_tokens DESC
    (prefer the longer doc on quality ties — near-dups usually differ by a
    truncation), doc_id ASC (deterministic final tie-break).

    ``clusters`` is (doc_id, cluster_id) from :func:`dedup`;
    ``quality`` is :func:`webdedup.textstats.quality_scores` output.
    Returns every doc with its verdict:
    (doc_id, cluster_id, canonical_id, is_canonical).

    Scale shape: the argmax is a struct-max aggregate (partial map-side
    combine, one shuffle on cluster_id); the canonical map then joins back
    on cluster_id — co-partitioned with the aggregate's output, and never
    broadcast (there are O(n_docs) clusters, so the map is NOT a small
    dim table).
    """
    # doc_id ASC inside a MAX: bitwise NOT is a total order-REVERSING map
    # over the full signed-64 range with no overflow (unlike negation,
    # which wraps/throws on Long.MIN_VALUE — xxhash64-derived ids span the
    # whole range)
    q = clusters.join(quality, "doc_id")
    best = (
        q.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ttr_ppm"),
                    F.col("n_tokens"),
                    F.bitwise_not(F.col("doc_id")).alias("not_id"),
                )
            ).alias("b")
        )
        .select(
            "cluster_id",
            F.bitwise_not(F.col("b.not_id")).cast("long").alias("canonical_id"),
        )
    )
    return (
        q.select("doc_id", "cluster_id")
        .join(best, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).cast("long").alias("is_canonical"),
        )
    )


def clean_corpus(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    span: int = 5,
    min_span_docs: int = 2,
    min_ttr_ppm: int = 300_000,
    text_col: str = "text",
) -> DataFrame:
    """The full tier-dedup pipeline as one operator — what a training-data
    run actually executes: near-dup clustering (:func:`dedup`) → keep the
    best doc per cluster (:func:`select_canonical`) → cut repeated
    boilerplate spans across the keepers
    (:func:`webdedup.textstats.span_dedup`) → drop low-quality keepers
    (type-token ratio below ``min_ttr_ppm``).

    Returns one row per SURVIVING doc:
    (doc_id, cluster_id, n_removed, clean_text).

    Each stage keeps its own scale shape (documented at its definition);
    the composition adds only key-column joins.

    Cache lifecycle: the keeper id set is eagerly localCheckpoint-ed and
    the inner dedup run's persist scope is released immediately after, so
    the pipeline's large caches never outlive this call. The final span
    stage persists one narrow hashed-block table into the CALLER's active
    persist scope (it backs the lazily returned frame) — wrap the call in
    ``scoped_persists()`` or call ``release_persisted()`` after
    materializing the output.
    """
    from webdedup.textstats import quality_scores, span_dedup

    cfg = cfg or DedupConfig()
    res = dedup(pages, cfg, text_col=text_col, id_col="doc_id")
    qual = quality_scores(pages, text_col=text_col)
    canon = select_canonical(res.clusters, qual)
    keep_ids = (
        canon.where(F.col("is_canonical") == 1)
        .join(qual.where(F.col("ttr_ppm") >= min_ttr_ppm), "doc_id", "left_semi")
        .select("doc_id", "cluster_id")
        .localCheckpoint(eager=True)
    )
    res.release()
    kept = pages.join(keep_ids, "doc_id").select("doc_id", "cluster_id", text_col)
    cleaned = span_dedup(kept, span=span, min_docs=min_span_docs, text_col=text_col)
    return (
        kept.select("doc_id", "cluster_id")
        .join(cleaned, "doc_id")
        .select("doc_id", "cluster_id", "n_removed", "clean_text")
    )
