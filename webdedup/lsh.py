"""LSH banding, bucket counting, hot-bucket kill, candidate pairs.

Spark re-expression of the reference's inverse index build + collision query
(InverseIndex::fit, inverseIndex.cpp:430-499; InverseIndex::kneighbors
collision counting, inverseIndex.cpp:530-561). The bucket table is never
materialized as a map — it IS the shuffle: posexplode(bands) → groupBy/join
on (band, band_hash). :func:`bucket_pairs` is that census + hot-kill +
equi-join step once, shared by the band, SimHash-block and
substring-fingerprint candidate sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webdedup.config import DedupConfig


def new_flag(df: DataFrame) -> list:
    """``["is_new"]`` when ``df`` flags its rows new/known, else ``[]``."""
    return ["is_new"] if "is_new" in df.columns else []


def explode_bands(feat: DataFrame) -> DataFrame:
    """(doc_id, bands) → (doc_id, band, band_hash) — the LSH bucket rows
    (plus ``is_new`` when ``feat`` carries it)."""
    return feat.select(
        "doc_id", *new_flag(feat), F.posexplode("bands").alias("band", "band_hash")
    )


def drop_hot(rows: DataFrame, keys: list, max_bin_size: int) -> DataFrame:
    """``rows`` minus every bucket of ``keys`` holding >= max_bin_size rows.

    Reference parity: a bucket reaching max_bin_size is dropped ENTIRELY
    (tombstone semantics, inverseIndexStorageUnorderedMap.cpp:70-81) —
    filter on the full count, never a limit/truncate. The census is ONE
    two-phase hash aggregate: map-side partial aggregation emits at most
    one partial row per mapper per key, so the reducer owning a hot key
    merges |mappers| counters, not |members| rows (the partial agg IS the
    salt; the r1-r5 explicit salted pre-aggregation cost a full extra
    exchange for the same combine). The hot list is tiny by construction ⇒
    broadcast anti-join, no second shuffle of the exploded table. Size-1
    buckets need no explicit prune: they produce no join matches (the
    reference's prune(), :162-187, falls out free).
    """
    hot = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") >= F.lit(max_bin_size))
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), keys, "left_anti")


def surviving_buckets(bucket_rows: DataFrame, cfg: DedupConfig) -> DataFrame:
    """LSH band bucket rows with hot buckets killed (:func:`drop_hot`)."""
    return drop_hot(bucket_rows, ["band", "band_hash"], cfg.max_bin_size)


def bucket_pairs(
    rows: DataFrame, keys: list, max_bin_size: int, *cols
) -> DataFrame:
    """(a, b, *cols) doc pairs sharing a surviving bucket, a < b.

    The one "explode keys → census → kill hot buckets → equi-join" step
    behind every dedup candidate source (LSH bands, SimHash block keys,
    substring fingerprints). ``rows`` holds (doc_id, *keys) and optionally
    a boolean ``is_new``; ``cols`` are extra output expressions over the
    ``l``/``r`` join sides (e.g. the SimHash distance).

    The census spans ALL rows, so a bucket is hot by its full store-wide
    size; only NEW rows join on the left, against all rows on the right,
    under ``NOT r.is_new OR l.doc_id < r.doc_id``: a pair with one new
    side comes out once (new on the left), a new-new pair once (smaller
    id on the left), an old-old pair never — it was found when "old" was
    new. Every pair leaves in ONE orientation per shared bucket.

    Without ``is_new`` every row is new: the flag is a literal added after
    any upstream persist, so the optimizer folds the condition to
    ``l.doc_id < r.doc_id`` and the left filter away — the plain
    self-join.

    Partitioning by key happens through the join's OWN shuffle —
    deliberately NOT an explicit ``repartition()`` first: a user-origin
    exchange is ineligible for AQE's skew-join rule, so a near-cap hot
    bucket (the power-law web reality the tombstone's threshold
    intentionally lets through) would land on ONE task. Measured on a
    40k-row hot bucket: with repartition() the join stage runs at the
    configured width with one task reading the whole bucket; without it
    AQE splits the skewed partition ~4x (66 tasks vs 16). The
    ENSURE_REQUIREMENTS shuffle clusters by exactly the same keys, so
    co-location is unchanged (tests/test_pipeline.py skew gate).
    """
    if "is_new" not in rows.columns:
        rows = rows.withColumn("is_new", F.lit(True))
    ok = drop_hot(rows, keys, max_bin_size)
    l, r = ok.where("is_new").alias("l"), ok.alias("r")
    cond = ~F.col("r.is_new") | (F.col("l.doc_id") < F.col("r.doc_id"))
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return l.join(r, cond).select(
        F.least("l.doc_id", "r.doc_id").alias("a"),
        F.greatest("l.doc_id", "r.doc_id").alias("b"),
        *cols,
    )


def candidate_pairs(
    feat: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """Distinct (a, b) candidate doc-id pairs from MinHash LSH bands.

    ``dedupe=False`` skips the trailing multi-band-collision collapse for
    callers that union several candidate sources and dropDuplicates ONCE
    over the union (the pipeline) — one less exchange, identical final
    pair set.

    The equi-join on (band, band_hash) is the reference's collision
    lookup (inverseIndex.cpp:530-561) done set-at-a-time
    (:func:`bucket_pairs`: new × all when ``feat`` carries ``is_new``);
    dropDuplicates collapses multi-band collisions before the (expensive)
    verify stage.
    """
    pairs = bucket_pairs(
        explode_bands(feat), ["band", "band_hash"], cfg.max_bin_size
    )
    return pairs.dropDuplicates(["a", "b"]) if dedupe else pairs


def _simhash_tables(t: int):
    """Block layout + key tables for hamming <= t over 64 bits.

    Manku/Jain/Das Sarma-style: split the fingerprint into nb = t+3 blocks;
    any pair within hamming t has >= nb-t = 3 clean blocks, so keying every
    C(nb, 3) block-triple guarantees a shared key. Triple keys are ~32 bits
    wide, so random-collision volume is ~n²·C(nb,3)/2^32 — the naive
    (t+1)-block scheme's 16-bit keys produce ~n²/2^16 junk pairs, which
    stops scaling past ~10^5 docs.
    """
    from itertools import combinations

    nb = t + 3
    widths = [(64 // nb) + (1 if i < 64 % nb else 0) for i in range(nb)]
    starts = [sum(widths[:i]) for i in range(nb)]
    combos = list(combinations(range(nb), 3))
    return widths, starts, combos


#: per-process cache of the block-triple key Column for each hamming
#: threshold: the expression is ~56 structs × shift arithmetic ≈ 800 py4j
#: round-trips to build — a measurable driver-side cost per pipeline run.
#: Column objects are immutable unresolved expressions bound to the
#: process-wide JVM gateway, so reuse across queries/sessions is safe.
#: Entries are (gateway_weakref, keys) per threshold: a (rare) full JVM
#: restart in one Python process must not serve a Column bound to the dead
#: gateway, and identity is validated through a WEAK reference — keying by
#: ``id(gateway)`` would be unsound because a GC'd gateway's id can be
#: reused by its replacement object.
_SIMHASH_KEYS_CACHE: dict = {}


def _simhash_key_col(t: int):
    import weakref

    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    entry = _SIMHASH_KEYS_CACHE.get(t)
    if entry is not None:
        ref, keys = entry
        live = ref() if ref is not None else None
        if gw is not None and live is gw:
            return keys
    widths, starts, combos = _simhash_tables(t)

    def block(i):
        mask = (1 << widths[i]) - 1
        return F.shiftright(F.col("simhash"), starts[i]).bitwiseAND(F.lit(mask))

    keys = F.array(
        *[
            F.struct(
                F.lit(ci).alias("tbl"),
                (
                    F.shiftleft(block(a), widths[b] + widths[c])
                    + F.shiftleft(block(b), widths[c])
                    + block(c)
                ).alias("key"),
            )
            for ci, (a, b, c) in enumerate(combos)
        ]
    )
    if gw is not None:
        try:
            _SIMHASH_KEYS_CACHE[t] = (weakref.ref(gw), keys)
        except TypeError:
            pass  # gateway type not weakref-able: skip caching, stay correct
    return keys


def simhash_candidate_pairs(
    feat: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """Distinct (a, b) pairs with SimHash hamming distance <= threshold.

    Candidates from block-triple key tables (see _simhash_tables) joined
    by :func:`bucket_pairs` (hot keys — degenerate fingerprints, e.g.
    near-empty docs — tombstoned), exact bit_count(xor) filter JVM-side
    (no Python in the hot path). ``dedupe=False`` as in
    :func:`candidate_pairs`.
    """
    t = cfg.simhash_hamming_threshold
    keys = _simhash_key_col(t)
    flag = new_flag(feat)
    rows = feat.select("doc_id", "simhash", *flag).withColumn(
        "_k", F.explode(keys)
    ).select(
        "doc_id", "simhash", *flag,
        F.col("_k.tbl").alias("tbl"), F.col("_k.key").alias("key"),
    )
    dist = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    out = (
        bucket_pairs(rows, ["tbl", "key"], cfg.max_bin_size, dist.alias("_d"))
        .where(F.col("_d") <= F.lit(t))
        .select("a", "b")
    )
    return out.dropDuplicates(["a", "b"]) if dedupe else out
