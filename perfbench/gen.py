"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs. ``cached_inputs`` writes them once per
(workload, seed, size) under the cache directory, so generation never
runs inside a timed region or inside ``setup_s``. The engine only ever
sees the parquet files written here.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pandas as pd

from webdedup.fixtures import generate_pages_fast

def shingle_set(text: str, n: int = 3) -> set:
    """Word n-gram tuples: an engine-independent shingle set for truth."""
    toks = text.split()
    return set(zip(*(toks[i:] for i in range(n))))


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def web_corpus(n: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``generate_pages_fast`` pages plus truth pairs with their exact
    word-3-gram Jaccard (1.0 for exact copies and substring embeds)."""
    pdf, tdf = generate_pages_fast(n, seed=seed)
    pages = pdf[["url", "text"]]
    text = dict(zip(pages.url, pages.text))
    jac = [
        jaccard(shingle_set(text[a]), shingle_set(text[b])) if k == "near" else 1.0
        for a, b, k in zip(tdf.url_a, tdf.url_b, tdf.kind)
    ]
    truth = tdf.assign(jaccard=np.asarray(jac, dtype=np.float64))
    return pages, truth


def token_features(pages: pd.DataFrame) -> pd.DataFrame:
    """(id, features): the page's row index and its sorted distinct crc32
    token ids — the MinHashNeighbors input convention."""
    ids = np.arange(len(pages), dtype=np.int64)
    cache: dict = {}

    def tid(w: str) -> int:
        v = cache.get(w)
        if v is None:
            v = cache[w] = zlib.crc32(w.encode())
        return v

    feats = [
        np.unique(np.fromiter((tid(w) for w in t.split()), dtype=np.int64))
        for t in pages.text
    ]
    return pd.DataFrame({"id": ids, "features": feats})


def snapshot_slices(pages: pd.DataFrame, n_slices: int, seed: int) -> list:
    """Seeded permutation of the corpus cut into ``n_slices`` equal slices
    (a remainder smaller than ``n_slices`` is left out), so each snapshot
    mixes originals with duplicates of earlier and same-snapshot pages
    (the generator emits all originals first)."""
    order = np.random.RandomState(seed).permutation(len(pages))
    size = len(pages) // n_slices
    return [
        pages.iloc[order[i * size : (i + 1) * size]].reset_index(drop=True)
        for i in range(n_slices)
    ]


def write_parquet_dir(df: pd.DataFrame, path: str, n_files: int) -> None:
    """``df`` as ``n_files`` parquet files of consecutive rows."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        df.iloc[part].to_parquet(
            os.path.join(path, f"part-{i:03d}.parquet"), index=False
        )


def cached_inputs(cache_root: str, workload: str, seed: int, size: dict, build) -> str:
    """Directory holding the inputs of (workload, seed, size); ``build(dir)``
    fills it on first use. Writes land in a temp dir that is renamed into
    place only when complete, so an interrupted run never leaves a
    half-written input set behind."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(cache_root, "inputs", f"{workload}-seed{seed}-{key}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump({"workload": workload, "seed": seed, **size}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
