"""Reference computations the output checks compare against.  Each is
written from the operator's documented contract in plain Python/numpy,
never by calling the library."""

from __future__ import annotations

import hashlib

import numpy as np

from tubes_spark.operators.dedup import ARITH_P, arith_hash_family


def minhash_band_keys(text: str, shingle_k: int = 3, num_hashes: int = 16,
                      bands: int = 8) -> "set[tuple[int, str]]":
    """(band, key) rows of one document under the arithmetic MinHash:
    lower-case, collapse whitespace, word ``shingle_k``-shingles, md5
    prefix hash mod P, ``num_hashes`` universal hashes, bands of
    ``num_hashes // bands`` minima joined by '_'."""
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) < shingle_k:
        shingles = {" ".join(toks)}
    else:
        shingles = {
            " ".join(toks[i:i + shingle_k])
            for i in range(len(toks) - shingle_k + 1)
        }
    x = np.array(
        [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % ARITH_P for s in shingles],
        dtype=np.int64,
    )
    fam = arith_hash_family(num_hashes)
    mins = [int(((a * x + b) % ARITH_P).min()) for a, b in fam]
    rows = num_hashes // bands
    return {
        (bnd, "_".join(str(m) for m in mins[bnd * rows:(bnd + 1) * rows]))
        for bnd in range(bands)
    }


def brute_topk(stored_ids: np.ndarray, stored: np.ndarray, queries: np.ndarray,
               k: int = 10) -> np.ndarray:
    """Exact cosine top-k ids per query, ties broken by ascending id."""
    order = np.argsort(stored_ids, kind="stable")
    ids, mat = stored_ids[order], stored[order]
    sn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ sn.T
    pick = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return ids[pick]


def fold_reference(events) -> "dict[str, float]":
    """Per-user sum of ``v`` after dropping redelivered event ids — the
    pandas fold the streaming sink must agree with."""
    dedup = events.drop_duplicates("event_id")
    return dedup.groupby("user")["v"].sum().to_dict()
