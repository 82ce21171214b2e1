"""Seeded benchmark corpora and their ground truth.

The corpus is the ``sources.pages`` generator's output for ``(n, seed)``;
the skewed variant prepends one seeded boilerplate block to ~10% of the
docs.  Corpora are written as ``N_FILES`` parquet files (more files than
cores, so every core count reads the same splits) and cached by
``(n, skew, seed)`` under the benchmark's state directory.

Truth is computed here, independently of the engine: the exact w-shingle
Jaccard of every planted ``(2k, 2k+1)`` pair over the final texts.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

N_FILES = 16
KEEP_CACHED = 32
SKEW_FRACTION = 0.10
# 150 tokens: two boilerplate docs of the shortest generated length (40
# tokens) share at most 148/(148+2*38) ~ 0.66 of their shingles, so the
# block deepens band groups without making unrelated docs near-dups
SKEW_BLOCK_TOKENS = 150


def boilerplate_block(seed: int) -> str:
    rng = np.random.default_rng((seed, 0xB0B))
    return " ".join(f"z{i:03d}" for i in rng.integers(0, 500, SKEW_BLOCK_TOKENS))


def corpus_dir(cache_root: str, n: int, skew: bool, seed: int) -> str:
    return os.path.join(cache_root, f"pages-n{n}-{'skew' if skew else 'clean'}-s{seed}")


def ensure_corpus(cache_root: str, n: int, skew: bool, seed: int) -> bool:
    """Write the corpus unless it is cached; returns True on a cache hit."""
    import pyarrow as pa

    from bloom_filters_spark.sources.pages import generate_pages_pdf

    path = corpus_dir(cache_root, n, skew, seed)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return True
    docs = generate_pages_pdf(np.arange(n), seed)[["doc_id", "text"]]
    if skew:
        hit = np.random.default_rng((seed, 0x5EED)).random(n) < SKEW_FRACTION
        docs.loc[hit, "text"] = boilerplate_block(seed) + " " + docs.loc[hit, "text"]
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, part in enumerate(np.array_split(np.arange(n), N_FILES)):
        pq.write_table(pa.Table.from_pandas(docs.iloc[part], preserve_index=False),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict_old(cache_root, keep=path)
    return False


def _evict_old(cache_root: str, keep: str):
    entries = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for old in [e for e in entries if e != keep][: max(len(entries) - KEEP_CACHED, 0)]:
        shutil.rmtree(old, ignore_errors=True)


def load_texts(path: str, n: int) -> list[str]:
    tbl = pq.read_table(path, columns=["doc_id", "text"]).to_pandas()
    tbl = tbl.sort_values("doc_id")
    if not np.array_equal(tbl["doc_id"].to_numpy(), np.arange(n)):
        raise RuntimeError(f"corpus at {path} does not hold doc ids 0..{n - 1}")
    return tbl["text"].tolist()


def planted_jaccard(texts: list[str], w: int = 3) -> np.ndarray:
    """Exact w-shingle Jaccard of each planted pair (2k, 2k+1), as
    distinct-shingle-set sizes over lowercased whitespace tokens."""
    n = len(texts) - len(texts) % 2
    lens = np.fromiter(map(len, map(str.split, texts[:n])), dtype=np.int64, count=n)
    if lens.min() < w:
        raise ValueError("planted_jaccard expects every doc to hold >= w tokens")
    # joined with a space, so no token spans two docs
    flat = " ".join(texts[:n]).lower().split()
    codes, uniq = pd.factorize(np.array(flat, dtype=object))
    codes = codes.astype(np.int64)
    v = np.int64(len(uniq))
    if n // 2 >= 2**17 or len(uniq) ** w >= 2**38:
        raise ValueError("corpus too large for the packed shingle key")
    ends = np.cumsum(lens)
    doc_of = np.repeat(np.arange(n), lens)
    pos = np.arange(len(codes))
    starts = pos[pos + w <= ends[doc_of]]
    sh = np.zeros(len(starts), dtype=np.int64)
    for j in range(w):
        sh = sh * v + codes[starts + j]
    d = doc_of[starts]
    # key = pair | shingle | side, unique → one row per distinct shingle
    key = np.unique(((d // 2) << np.int64(39)) | (sh << np.int64(1)) | (d % 2))
    pair = key >> np.int64(39)
    side_sizes = np.bincount(pair * 2 + (key & 1), minlength=n).reshape(-1, 2)
    both = key[1:] >> np.int64(1) == key[:-1] >> np.int64(1)
    inter = np.bincount(pair[1:][both], minlength=n // 2)
    return inter / (side_sizes.sum(axis=1) - inter)


def cluster_labels(tbl, n: int) -> np.ndarray:
    """(doc_id, cluster_id) Arrow table → cluster id per doc 0..n-1; a
    duplicate or missing doc raises."""
    ids = tbl.column("doc_id").to_numpy()
    lab = np.full(n, -1, dtype=np.int64)
    if len(ids) != n or len(np.unique(ids)) != n or ids.min() < 0 or ids.max() >= n:
        raise ValueError(f"expected one cluster row per doc 0..{n - 1}, got {len(ids)} rows")
    lab[ids] = tbl.column("cluster_id").to_numpy()
    return lab


def labels_digest(lab: np.ndarray) -> str:
    import hashlib

    return hashlib.sha256(lab.tobytes()).hexdigest()[:16]


def pair_quality(lab: np.ndarray, jac: np.ndarray, est_pairs: np.ndarray,
                 threshold: float) -> dict:
    """Recall and precision of a clustering against the planted pairs.

    ``pair_recall``: planted pairs with exact Jaccard >= threshold that
    share a cluster.  ``minhash_recall``: the same over the planted pairs
    whose MinHash estimate is >= threshold (the reference's
    ``compareWith`` decision, which the engine's estimate verify applies).
    ``pair_precision``: co-clustered pairs that are planted pairs over all
    co-clustered pairs.
    """
    same = lab[0: 2 * len(jac): 2] == lab[1: 2 * len(jac): 2]
    truth = jac >= threshold
    _, sizes = np.unique(lab, return_counts=True)
    co = int((sizes * (sizes - 1) // 2).sum())
    return {
        "pair_recall": float(same[truth].mean()),
        "minhash_recall": float(same[est_pairs].mean()) if len(est_pairs) else 1.0,
        "pair_precision": float(same.sum() / co) if co else 1.0,
        "truth_pairs": int(truth.sum()),
        "minhash_pairs": int(len(est_pairs)),
    }


def multi_doc_clusters(lab: np.ndarray) -> int:
    return int((np.unique(lab, return_counts=True)[1] >= 2).sum())
