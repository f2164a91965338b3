"""Output checks and the arithmetic behind the end-to-end metrics.

Everything here is plain Python/numpy over collected results, so it is
unit-tested without Spark.
"""

from __future__ import annotations

import hashlib
import statistics

import numpy as np
import pandas as pd

#: dedup workloads must co-cluster at least this share of the truth pairs
MIN_RECALL = 0.99
#: and at least this share of merged docs must have a truth partner
MIN_PRECISION = 0.99
#: floor on kneighbors recall@3 against exact Jaccard top-3 (see README)
MIN_KNN_RECALL = 0.3


def dedup_truth(truth: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """The planted pairs the engine's contract covers: exact copies,
    substring embeds, and near-duplicates at or above the verify threshold
    (a heavily edited near-duplicate is planted but is not a duplicate)."""
    return truth[(truth.kind != "near") | (truth.jaccard >= threshold)]


def _find(parent: dict, x):
    while parent.setdefault(x, x) != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def truth_components(pairs) -> dict:
    """url -> component root of the truth graph (union-find)."""
    parent: dict = {}
    for a, b in pairs:
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: _find(parent, x) for x in list(parent)}


def planted_recall(cluster_of: dict, pairs) -> float:
    """Share of truth pairs whose two pages share a cluster."""
    pairs = list(pairs)
    if not pairs:
        raise ValueError("no truth pairs to score")
    hit = sum(1 for a, b in pairs if cluster_of[a] == cluster_of[b])
    return hit / len(pairs)


def merge_precision(cluster_of: dict, all_truth_pairs) -> float:
    """Share of pages in non-singleton clusters that have at least one
    truth-connected partner in their cluster. Scored against every planted
    pair (also the sub-threshold ones), so only genuine over-merging
    lowers it."""
    comp = truth_components(all_truth_pairs)
    members: dict = {}
    for url, cid in cluster_of.items():
        members.setdefault(cid, []).append(url)
    merged = good = 0
    for urls in members.values():
        if len(urls) < 2:
            continue
        roots: dict = {}
        for u in urls:
            r = comp.get(u)
            if r is not None:
                roots[r] = roots.get(r, 0) + 1
        for u in urls:
            merged += 1
            r = comp.get(u)
            good += r is not None and roots[r] >= 2
    return good / merged if merged else 1.0


def partition_digest(cluster_of: dict) -> str:
    """Label-free digest of a clustering: the sorted member lists."""
    groups: dict = {}
    for key, cid in cluster_of.items():
        groups.setdefault(cid, []).append(str(key))
    canon = sorted("\x1f".join(sorted(m)) for m in groups.values())
    return hashlib.sha256("\x1e".join(canon).encode()).hexdigest()


def edge_digest(edges) -> str:
    """Digest of an unordered set of (query, candidate) pairs."""
    canon = sorted(f"{int(a)}:{int(b)}" for a, b in edges)
    return hashlib.sha256(",".join(canon).encode()).hexdigest()


def exact_jaccard_rows(features: list, query_rows: np.ndarray) -> np.ndarray:
    """Exact Jaccard of each query row against every row (numpy, dense
    incidence matrix over the feature vocabulary)."""
    vocab, inv = np.unique(np.concatenate(features), return_inverse=True)
    lens = np.array([f.size for f in features])
    rows = np.repeat(np.arange(len(features)), lens)
    inc = np.zeros((len(features), vocab.size))
    inc[rows, inv] = 1.0
    inter = inc[query_rows] @ inc.T
    union = lens[query_rows][:, None] + lens[None, :] - inter
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(union > 0, inter / union, 1.0)


def knn_scores(
    features: list, query_rows: np.ndarray, returned: dict, k: int
) -> tuple[float, float]:
    """(recall@k, exact share) of kneighbors output against exact Jaccard.

    ``returned`` maps a query row to its (candidate row, distance) list. A
    returned neighbour is a hit when its exact Jaccard reaches the query's
    k-th best exact value, so ties at the cut count either way; recall@k
    is the mean over queries of min(hits, k) / k. The exact share is the
    share of returned rows whose distance equals 1 - exact Jaccard (the
    fast=False re-rank promises exact distances).
    """
    sims = exact_jaccard_rows(features, query_rows)
    recall, exact, n_ret = [], 0, 0
    for qi, q in enumerate(query_rows):
        s = sims[qi].copy()
        s[q] = -1.0  # a page is not its own neighbour
        kth = np.partition(s, -k)[-k]
        got = returned.get(int(q), [])
        hits = sum(1 for c, _ in got if s[int(c)] >= kth - 1e-9)
        recall.append(min(hits, k) / k)
        exact += sum(1 for c, d in got if abs(d - (1.0 - s[int(c)])) <= 1e-6)
        n_ret += len(got)
    return float(np.mean(recall)), (exact / n_ret if n_ret else 0.0)


def quarter_growth(times: list) -> float:
    """Median of the last quarter of ``times`` over the median of the first
    quarter (at least one sample each); 1.0 means flat."""
    if not times:
        raise ValueError("no samples")
    q = max(1, len(times) // 4)
    return statistics.median(times[-q:]) / statistics.median(times[:q])
