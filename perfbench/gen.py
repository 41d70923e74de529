"""Seeded input generation.  Every input of every workload is made here
from the seed and written as parquet before any timing starts; the
library only ever sees the files.

Documents and vectors are plain numpy draws; text is ASCII so the
reference MinHash in ``checks.py`` reproduces the library's
normalisation exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "that", "for", "on"]


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _vectors(mat: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(mat.astype(np.float64).ravel()), DIM
    ).cast(pa.list_(pa.float64()))


# ------------------------------------------------------------- documents

class DocGen:
    """Document batches over a Zipf vocabulary with a fixed near-dup
    share per batch: exact replicas (same text, same embedding) and
    one-token edits (one word swapped, embedding nudged) of documents
    from EARLIER batches, plus a few junk documents (digits only) that
    the quality filter must drop."""

    VOCAB = 4000
    ZIPF_S = 1.1
    SHARES = (0.10, 0.10, 0.04)  # exact replicas, one-token edits, junk

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words: "list[str]" = []
        seen = set(STOPWORDS)
        while len(words) < self.VOCAB:
            w = "".join(self.rng.choice(letters, self.rng.integers(3, 10)))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(words)
        p = 1.0 / np.arange(1, self.VOCAB + 1) ** self.ZIPF_S
        self.p = p / p.sum()
        self.next_id = 0
        # earlier documents that passed the quality filter, by id
        self.kept_text: "dict[int, str]" = {}
        self.kept_vec: "dict[int, np.ndarray]" = {}

    def _fresh_tokens(self) -> "list[str]":
        n = int(self.rng.integers(40, 90))
        toks = self.words[self.rng.choice(self.VOCAB, n, p=self.p)].tolist()
        stop = self.rng.random(n) < 0.3
        picks = self.rng.integers(0, len(STOPWORDS), n)
        return [STOPWORDS[picks[i]] if stop[i] else t for i, t in enumerate(toks)]

    def batch(self, n: int, fresh_only: bool = False) -> "tuple[pa.Table, dict]":
        """One batch of ``n`` documents and its ledger: which ids are
        exact replicas (and of what), edits, junk and fresh."""
        rep_s, edit_s, junk_s = (0.0, 0.0, 0.0) if fresh_only else self.SHARES
        n_rep, n_edit, n_junk = (int(round(n * s)) for s in (rep_s, edit_s, junk_s))
        kinds = (["replica"] * n_rep + ["edit"] * n_edit + ["junk"] * n_junk)
        kinds += ["fresh"] * (n - len(kinds))
        kinds = [kinds[i] for i in self.rng.permutation(n)]
        earlier = np.array(sorted(self.kept_text))
        ids, texts, vecs = [], [], []
        ledger = {"replica_of": {}, "edit": [], "junk": [], "good": []}
        new_kept = {}
        for kind in kinds:
            did = self.next_id
            self.next_id += 1
            if kind in ("replica", "edit"):
                src = int(earlier[self.rng.integers(len(earlier))])
                text, vec = self.kept_text[src], self.kept_vec[src]
                if kind == "edit":
                    toks = text.split(" ")
                    toks[int(self.rng.integers(len(toks)))] = str(
                        self.words[self.rng.integers(self.VOCAB)]
                    )
                    text = " ".join(toks)
                    vec = vec + 0.02 * self.rng.standard_normal(DIM)
                    ledger["edit"].append(did)
                else:
                    ledger["replica_of"][did] = src
            elif kind == "junk":
                text = " ".join(
                    str(x) for x in self.rng.integers(0, 10**6, int(self.rng.integers(20, 40)))
                )
                vec = self.rng.standard_normal(DIM)
                ledger["junk"].append(did)
            else:
                text = " ".join(self._fresh_tokens())
                vec = self.rng.standard_normal(DIM)
            if kind != "junk":
                ledger["good"].append(did)
                new_kept[did] = (text, vec)
            ids.append(did)
            texts.append(text)
            vecs.append(vec)
        # replicas only ever point at EARLIER batches
        for did, (text, vec) in new_kept.items():
            self.kept_text[did] = text
            self.kept_vec[did] = vec
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "embedding": _vectors(np.vstack(vecs)),
        })
        ledger["n"] = n
        return table, ledger


# ------------------------------------------------------------- vectors

class VecGen:
    """Vectors clustered around 16 centres for the serving index, and
    the request stream: top-k requests of 32 queries — 4 stored vectors
    as they are, 12 near stored vectors, 16 random — with every tenth
    request an append of new vectors."""

    CENTRES = 16

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.centres = self.rng.standard_normal((self.CENTRES, DIM))
        self.next_id = 0
        self.ids: "list[np.ndarray]" = []
        self.mats: "list[np.ndarray]" = []

    def stored(self) -> "tuple[np.ndarray, np.ndarray]":
        return np.concatenate(self.ids), np.vstack(self.mats)

    def new_vectors(self, n: int) -> pa.Table:
        c = self.rng.integers(0, self.CENTRES, n)
        mat = self.centres[c] + 0.6 * self.rng.standard_normal((n, DIM))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.ids.append(ids)
        self.mats.append(mat)
        return pa.table({"vec_id": pa.array(ids), "embedding": _vectors(mat)})

    def queries(self, qid0: int, n: int = 32, n_exact: int = 4) -> "tuple[pa.Table, dict]":
        """``n`` queries with ids from ``qid0`` (never a stored id): the
        first ``n_exact`` equal to stored vectors, the rest of the first
        half near stored vectors, the second half random."""
        ids, mat = self.stored()
        half = n // 2
        pick = self.rng.integers(0, len(ids), half)
        near = mat[pick].copy()
        near[n_exact:] += 0.05 * self.rng.standard_normal((half - n_exact, DIM))
        rand = self.rng.standard_normal((n - half, DIM)) * 1.5
        q = np.vstack([near, rand])
        qids = np.arange(qid0, qid0 + n, dtype=np.int64)
        table = pa.table({"vec_id": pa.array(qids), "embedding": _vectors(q)})
        return table, {"qids": qids, "mat": q, "exact_of": ids[pick[:n_exact]]}


# ------------------------------------------------------------- events

class EventGen:
    """Event files for the stream: ``per_file`` events each, Zipf user
    keys, integer values, event times advancing one second per file
    with +-200 ms jitter (inside the 2 s watermark), and a 5% share of
    redelivered duplicates (same event id), two thirds inside the same
    file and one third in the next one."""

    USERS = 2000
    ZIPF_S = 1.1

    def __init__(self, seed: int, per_file: int):
        self.rng = np.random.default_rng([seed, 3])
        p = 1.0 / np.arange(1, self.USERS + 1) ** self.ZIPF_S
        self.p = p / p.sum()
        self.per_file = per_file
        self.next_id = 0
        self.file_no = 0
        self.carry: "dict | None" = None  # redeliveries for the next file

    def file(self) -> pa.Table:
        n = self.per_file
        j = self.file_no
        self.file_no += 1
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        base = j * 1000 + np.sort(self.rng.integers(0, 1000, n))
        ts_ms = base + self.rng.integers(-200, 201, n)
        users = self.rng.choice(self.USERS, n, p=self.p)
        vals = self.rng.integers(1, 100, n).astype(np.float64)
        cols = {"event_id": ids, "ts_ms": ts_ms, "user": users, "v": vals}
        dup = np.flatnonzero(self.rng.random(n) < 0.05)
        later = self.rng.random(len(dup)) < 1.0 / 3.0
        now_idx, next_idx = dup[~later], dup[later]
        parts = [cols, {k: c[now_idx] for k, c in cols.items()}]
        if self.carry is not None:
            parts.append(self.carry)
        self.carry = {k: c[next_idx] for k, c in cols.items()}
        merged = {k: np.concatenate([p[k] for p in parts]) for k in cols}
        # deliver in a shuffled order: out of order, but only within
        # the file (less than the watermark delay)
        order = self.rng.permutation(len(merged["event_id"]))
        merged = {k: c[order] for k, c in merged.items()}
        return pa.table({
            "event_id": pa.array(merged["event_id"], pa.int64()),
            "user": pa.array([f"u{u:04d}" for u in merged["user"]], pa.string()),
            "ts": pa.array(
                (1_700_000_000_000 + merged["ts_ms"]) * 1000,
                pa.timestamp("us", tz="UTC"),
            ),
            "v": pa.array(merged["v"], pa.float64()),
        })
