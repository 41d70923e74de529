"""Similarity search over embedding columns (north-star extension).

Design for scale:

* Dense vector math belongs in Arrow-batched numpy (BLAS matmul inside
  ``mapInPandas``/``applyInPandas``) — Spark's higher-order array
  lambdas (zip_with/aggregate) run *interpreted*, ~100x slower than a
  matmul, and per-element SQL is the wrong shape for SIMD.
* Brute force: broadcast the (small) query matrix into each task; the
  corpus streams through in Arrow batches; no shuffle at all until the
  final per-query top-k (tiny).
* Scale path: sign-LSH bucketing — corpus shuffles ONCE on a small int
  bucket key; only same-bucket pairs are scored.
* Serving and screening a small persisted index (:func:`index_topk`,
  :func:`incremental_ann_new`): with the expression kernel, when the
  live index files AND the batch both fit under the session's
  ``spark.sql.autoBroadcastJoinThreshold`` (-1 disables it), the call
  is answered on the driver from a cached in-memory snapshot of the
  index, reading the index and the batch at call time — bit-identical
  to the Spark plan (rows, doubles, schema; a screen's appended rows
  and footers too), which stays the path for everything larger.  At
  small batches the fixed cost of planning and scheduling a multi-job
  Spark query dominates (the Drizzle point); at the bound the numpy
  fold still beats the interpreted SQL fold — on 4 cores, a screen of
  17.5k vectors against a 19.5k-vector, 16-cell, 64-dim index (both
  ~9 MiB, ~1.4e9 multiply-adds) took 6.4-9.7 s on the driver and
  53-68 s in Spark.  A screen's appended epoch (and, under the same
  bound, the index's compaction) is written as bucket files from the
  driver: a 500-doc ``update_index=True`` screen against a 4,000-doc
  index took 0.16-0.18 s, against 0.39-0.47 s with Spark's bucketed
  writer and 1.35-1.76 s for the Spark screen (warm JVM, 3 runs each);
  with a compaction on every append, 0.24-0.27 s, 0.77-0.84 s and
  1.54-1.81 s.
* The persisted index (write, screen, top-k, PQ top-k, both hard-negative
  miners) is one core composed in series: probe assignment
  (:func:`_probe_assign`), within-cell scoring (:func:`_score_cells`, or
  the per-cell matmul :func:`_cell_topk_vectorized`), and one rank
  (:func:`_rank`).  Every cosine is the SQL-rendered sequential fold
  ``d / (nq * ns)``; the numpy fold reference (:func:`_fold_sum`)
  reproduces its doubles bit for bit.
* Bad vectors fail loudly: a vector that is NULL, holds a NULL element,
  has another length than the anchors or has a zero norm fails the call
  with ``invalid ANN vector`` — the same error with ANSI on or off,
  raised at call time by the snapshot path and by the job that
  evaluates the assignment on the Spark path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------ SQL-string form
#
# Cosine folds are rendered as SQL text parsed by ONE F.expr call: the
# same Catalyst expression built through py4j one Column call at a time
# costs ~6,000 round trips for a 16-anchor x 64-dim cell assignment
# (~1.7 s of driver time per construction).  tests/test_round14.py pins
# their doubles bit for bit against the numpy fold reference below.

def _sql_double(v: float) -> str:
    """A Spark SQL DOUBLE literal that parses to exactly this IEEE
    double: repr() is the shortest round-tripping decimal, and the D
    suffix forces DoubleType (a bare 0.1 would parse as DECIMAL)."""
    import math as _math

    f = float(v)
    if not _math.isfinite(f):
        raise ValueError(f"non-finite anchor component: {v!r}")
    return repr(f) + "D"


def _sql_arr(vals) -> str:
    return "array(" + ", ".join(_sql_double(v) for v in vals) + ")"


def _sql_dot(a: str, b: str) -> str:
    """Dot product of two array columns: a left fold from 0.0 over the
    dims in index order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    """Norm of an array column: the square root of the same sequential
    fold of squares."""
    return (
        f"SQRT(aggregate({a}, 0.0D, (acc, v) -> acc + "
        f"CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def _anchor_norm(anchor: "list[float]") -> float:
    """The norm of one literal anchor, folded in Python — the one
    definition every anchor cosine divides by."""
    return float(sum(v * v for v in anchor)) ** 0.5


def _sql_anchor_cos(vec: str, anchor: "list[float]", nv: "str | None") -> str:
    """Cosine of an array column against one literal anchor, computed
    as a SEQUENTIAL left fold over the dims in index order — the same
    summation order DuckDB's list_sum(list_transform(...)) uses, so the
    double is bit-identical across engines and the argmax cell
    assignment (and any threshold comparison) can sit under the
    value-hash oracle gate.

    ``nv``: a precomputed norm column (ADVICE r11 — the norm is an
    interpreted O(dims) fold; recomputing it once per anchor made cell
    assignment pay |anchors| redundant folds per row).  The division
    tree is ``d / (nv * na)`` either way, with the anchor norm ``na``
    pre-folded in Python (:func:`_anchor_norm`), so the double is the
    same whether the norm is shared or inlined."""
    nv_s = nv if nv is not None else _sql_norm(vec)
    return (
        f"{_sql_dot(vec, _sql_arr(anchor))} / "
        f"({nv_s} * {_sql_double(_anchor_norm(anchor))})"
    )


def _sql_cell_expr(
    vec: str, anchors: "list[list[float]]", nv: "str | None"
) -> str:
    """argmax-cosine cell id as a pure per-row expression (zero shuffle,
    whole-stage codegen): the first index of the max score, so ties
    break toward the smallest anchor id — mirrored by the oracle's
    row_number() ORDER BY cos DESC, aid ASC."""
    scores = (
        "array(" + ", ".join(_sql_anchor_cos(vec, a, nv) for a in anchors) + ")"
    )
    return f"CAST(array_position({scores}, array_max({scores})) - 1 AS INT)"


def _sql_probe_cells(
    vec: str, anchors: "list[list[float]]", n_probe: int, nv: "str | None"
) -> str:
    """Top-``n_probe`` cells by cosine, best first — the IVF nprobe
    rule.  The ascending struct sort on (-score, aid) is (score DESC,
    aid ASC), the oracle's tiebreak, and a sign flip is exact, so for
    finite scores element 0 equals :func:`_sql_cell_expr`."""
    scores = (
        "array(" + ", ".join(_sql_anchor_cos(vec, a, nv) for a in anchors) + ")"
    )
    idx = f"sequence(0, {len(anchors) - 1})"
    ranked = (
        f"sort_array(zip_with({scores}, {idx}, (s, i) -> "
        f"named_struct('ns', -s, 'aid', CAST(i AS INT))))"
    )
    return f"transform(slice({ranked}, 1, {int(n_probe)}), st -> st.aid)"


# ------------------------------------------------------ numpy fold reference
#
# The expression kernel's arithmetic in numpy, bit for bit.  Spark's
# aggregate(arr, 0.0D, (acc, v) -> acc + v) is a left fold from 0.0 in
# dim order; :func:`_fold_sum` performs the same IEEE additions in the
# same order — np.sum (pairwise) and BLAS (blocked) do not.  Every
# multiply, add, sqrt and divide is one correctly rounded IEEE-754
# operation on both sides, so only the operation ORDER has to match.

def _fold_sum(p: np.ndarray, axis: int = -1) -> np.ndarray:
    """:func:`_sql_dot`'s / :func:`_sql_norm`'s fold along ``axis``:
    ``acc = 0.0; acc += term`` for each term in index order."""
    terms = np.moveaxis(p, axis, 0)
    acc = np.zeros(terms.shape[1:])
    for t in terms:
        acc += t
    return acc


def _np_norm(m: np.ndarray, axis: int = -1) -> np.ndarray:
    """:func:`_sql_norm` of each vector of ``m`` (vectors along ``axis``)."""
    return np.sqrt(_fold_sum(m * m, axis))


def _np_anchor_scores(
    m: np.ndarray, nv: np.ndarray, anchors: "list[list[float]]"
) -> "tuple[np.ndarray, np.ndarray]":
    """(cosines, divisors) of each row of ``m`` against every anchor —
    :func:`_sql_anchor_cos`'s ``d / (nv * na)``.  A zero divisor gives
    inf/NaN here; Spark raises (ANSI) or yields NULL there, so callers
    inspect the divisors."""
    a = np.asarray(anchors, dtype=np.float64)
    na = np.array([_anchor_norm(x) for x in anchors])
    div = nv[:, None] * na[None, :]
    with np.errstate(all="ignore"):
        return _fold_sum(m[:, None, :] * a[None, :, :]) / div, div


def _np_probe_cells(
    scores: np.ndarray, null: np.ndarray, n_probe: int
) -> np.ndarray:
    """:func:`_sql_probe_cells` per row of ``scores`` (rows x anchors,
    ``null`` marking NULL scores): ascending on (-score, aid) under
    Spark's ordering — NULL first, NaN above every number, -0.0 equal
    to 0.0 — keeping the first ``n_probe`` anchor ids."""
    n, c = scores.shape
    ns = -scores
    cls = np.where(null, 0, np.where(np.isnan(ns), 2, 1))
    val = np.where(cls == 1, ns, 0.0)
    aid = np.broadcast_to(np.arange(c), (n, c))
    row = np.broadcast_to(np.arange(n)[:, None], (n, c))
    order = np.lexsort((aid.ravel(), val.ravel(), cls.ravel(), row.ravel()))
    return (order % c).reshape(n, c)[:, : min(int(n_probe), c)]


# ---------------------------------------------------------------- numpy core

def _to_matrix(series: pd.Series) -> np.ndarray:
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _hash_sample(df: DataFrame, vec_col: str, cap: int) -> pd.DataFrame:
    """Bounded driver-side sample for centroid training, ordered by a
    content hash rather than source order.

    ``limit(cap)`` reads the HEAD of the corpus — on a source-sorted
    table (common: ingest writes one source after another) every sampled
    vector comes from whichever source happens to sort first, and the
    trained cells inherit that bias.  Ranking by ``xxhash64(vec)`` is a
    deterministic, engine-portable shuffle of the corpus; the plan is a
    distributed TakeOrderedAndProject (per-partition top-cap heaps, no
    global sort materialized), so the driver still receives exactly
    ``cap`` rows."""
    return (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)).asc())
        .limit(cap)
        .toPandas()
    )


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Driver-side collect of the query set (small by contract — the
    big side is always the corpus)."""
    pdf = queries.select(id_col, vec_col).toPandas()
    qids = pdf[id_col].to_numpy()
    qm = _to_matrix(pdf[vec_col])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    return qids, qm


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: corpus repartitioned for parallelism -> mapInPandas computing
    a single (batch x queries) matmul per Arrow batch -> per-query
    top-k window over the scored pairs.  Zero shuffles of vector data;
    the scored-pair stream is (|corpus| x |queries|) narrow rows.
    Excludes self-matches; deterministic tiebreak by neighbor_id."""
    qids, qm = _collect_queries(queries, id_col, vec_col)
    n_parts = max(corpus.sparkSession.sparkContext.defaultParallelism, 8)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T  # (nc, nq)
            nc, nq = sims.shape
            yield pd.DataFrame({
                "neighbor_id": np.repeat(pdf[id_col].to_numpy(), nq),
                "query_id": np.tile(qids, nc),
                "cos_sim": np.round(sims.ravel(), 6),
            })

    scored = (
        corpus.select(id_col, vec_col)
        .repartition(n_parts, F.col(id_col))
        .mapInPandas(score, schema="neighbor_id long, query_id long, cos_sim double")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def radius_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine range search: every (query, neighbor) pair with
    cos_sim >= threshold.  The fixed-radius dual of
    :func:`knn_bruteforce` (all neighbors in a ball vs the nearest k).

    Plan: identical map-side matmul scoring, then a plain filter —
    unlike top-k there is NO per-query window, so the whole operator is
    a single shuffle-free scan: scores never leave the task that
    computed them.  Thresholding happens on the 6-decimal-rounded score
    so engine-parity comparisons are exact."""
    qids, qm = _collect_queries(queries, id_col, vec_col)
    n_parts = max(corpus.sparkSession.sparkContext.defaultParallelism, 8)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = np.round(cm @ qm.T, 6)  # (nc, nq)
            ci, qi = np.nonzero(sims >= threshold)
            yield pd.DataFrame({
                "neighbor_id": pdf[id_col].to_numpy()[ci],
                "query_id": qids[qi],
                "cos_sim": sims[ci, qi],
            })

    return (
        corpus.select(id_col, vec_col)
        .repartition(n_parts, F.col(id_col))
        .mapInPandas(score, schema="neighbor_id long, query_id long, cos_sim double")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int, n_tables: int = 1) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed -> reproducible
    buckets across runs and executors).  Shape (n_tables, n_planes, dim):
    each table is an independent sign-LSH hash for OR-amplification."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def bucket_ids(
    df: DataFrame,
    dim: int,
    n_planes: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bucket",
    n_tables: int = 1,
) -> DataFrame:
    """Sign-LSH bucket(s) per vector: the sign pattern of projections
    onto n_planes fixed random hyperplanes, packed into an int.  With
    n_tables > 1, each vector is emitted once per table (OR-amplified
    LSH) with the table id packed into the high bits of the bucket key.
    Arrow-batched numpy projection; the small int bucket key is the only
    thing the later join shuffles on."""
    planes = _hyperplanes(dim, n_planes, seed, n_tables)  # (L, P, dim)
    weights = np.power(2, np.arange(n_planes))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])  # (n, dim)
            # (n, L, P) sign pattern per table, packed to (n, L) ints
            signs = np.einsum("nd,lpd->nlp", cm, planes) >= 0
            packed = signs @ weights + (np.arange(n_tables) << n_planes)
            n = len(pdf)
            out = pdf[[id_col, vec_col]]
            if n_tables > 1:
                out = out.iloc[np.repeat(np.arange(n), n_tables)].reset_index(drop=True)
            out = out.copy()
            out[out_col] = packed.astype(np.int64).ravel()
            yield out

    schema = f"{id_col} long, {vec_col} array<float>, {out_col} long"
    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: score only query/corpus pairs sharing an LSH
    bucket in at least one of n_tables independent tables
    (OR-amplification: a neighbor at angle theta collides with prob
    1-(1-(1-theta/pi)^P)^L, so L=8 tables of P=4 planes recall ~85% of
    60-degree neighbors where a single table recalls ~20%).  One narrow
    shuffle of the corpus on the int bucket key (corpus replicated L
    times in that shuffle — still tiny vs. pairwise scoring);
    per-bucket scoring is a numpy matmul inside applyInPandas."""
    qb = bucket_ids(
        queries, dim, n_planes, id_col=id_col, vec_col=vec_col, n_tables=n_tables
    )
    q_by_bucket: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for b, grp in qb.toPandas().groupby("bucket"):
        qm = _to_matrix(grp[vec_col])
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        q_by_bucket[int(b)] = (grp[id_col].to_numpy(), qm)

    cb = bucket_ids(
        corpus, dim, n_planes, id_col=id_col, vec_col=vec_col, n_tables=n_tables
    )

    score = _bucket_topk_scorer(q_by_bucket, k, id_col, vec_col)
    scored = (
        cb.groupBy("bucket")
        .applyInPandas(score, schema="neighbor_id long, query_id long, cos_sim double")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # the same pair can collide in several tables; one vote is enough
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: rows of the corpus-side matrix scored per matmul inside a bucket task —
#: bounds the (chunk x nq) sims allocation no matter how degenerate the
#: bucket (50% duplicate vectors -> one huge bucket is the classic trap)
_SCORE_CHUNK = 4096


def _bucket_topk_scorer(q_by_bucket, k, id_col, vec_col):
    """Shared per-bucket scoring kernel for the LSH / IVF ANN paths.

    Degenerate-bucket discipline (the 100 TB story): the whole bucket
    arrives as ONE pandas group, so (a) the matmul runs in _SCORE_CHUNK
    row chunks — peak memory is (chunk x nq) regardless of bucket size —
    and (b) only the per-bucket top-(k+1) rows per query are emitted
    (k+1: the query's self-match may occupy one slot before the outer
    filter removes it).  Emission per bucket is O(nq * k), not
    O(n * nq), so a skewed bucket can't explode the scored-pair stream
    feeding the final window.  Work is O(n * nq) — linear in bucket
    size, which is inherent to scoring every member."""

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"neighbor_id": [], "query_id": [], "cos_sim": []}).astype(
            {"neighbor_id": "int64", "query_id": "int64", "cos_sim": "float64"}
        )
        entry = q_by_bucket.get(int(key[0]))
        if entry is None or len(pdf) == 0:
            return empty
        qids, qm = entry
        ids_all = pdf[id_col].to_numpy()
        keep = k + 1
        # running per-query top-(k+1): (sim desc, neighbor_id asc) order
        best_sim = np.full((len(qids), keep), -np.inf)
        best_id = np.full((len(qids), keep), np.iinfo(np.int64).max, dtype=np.int64)
        for lo in range(0, len(pdf), _SCORE_CHUNK):
            chunk = pdf.iloc[lo:lo + _SCORE_CHUNK]
            cm = _to_matrix(chunk[vec_col])
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = np.round(cm @ qm.T, 6)  # (chunk, nq)
            cand_sim = np.concatenate([best_sim, sims.T], axis=1)
            cand_id = np.concatenate(
                [best_id, np.broadcast_to(ids_all[lo:lo + _SCORE_CHUNK], sims.T.shape)], axis=1
            )
            order = np.lexsort((cand_id, -cand_sim), axis=1)[:, :keep]
            best_sim = np.take_along_axis(cand_sim, order, axis=1)
            best_id = np.take_along_axis(cand_id, order, axis=1)
        hit = np.isfinite(best_sim)
        qi, _ = np.nonzero(hit)
        return pd.DataFrame({
            "neighbor_id": best_id[hit],
            "query_id": qids[qi],
            "cos_sim": best_sim[hit],
        })

    return score


def embedding_dedup(
    df: DataFrame,
    threshold: float = 0.98,
    dim: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup removal: bucket by sign-LSH, pairwise
    matmul within each bucket, drop the higher id of any pair >= the
    threshold.  Shuffle = one pass on the int bucket key.

    Recall: ``n_tables`` independent OR-amplified tables (same machinery
    as :func:`knn_lsh`) — a single table silently misses near-dup pairs
    that straddle one hyperplane (at threshold 0.98 / 6 planes, one
    table recalls ~(1-0.064)^6 ≈ 67% of qualifying pairs; 4 tables
    ≈ 99%).  A pair found in several tables votes once (``distinct``).

    Degenerate buckets: within a bucket the pairwise scan runs as a
    chunked double loop — peak memory (chunk x chunk) however many
    near-identical vectors land in one bucket; rows already marked dup
    are skipped on the query side (they stay as lower-id partners, so
    pairwise drop semantics are unchanged)."""
    if not dim:
        raise ValueError("pass the embedding dimensionality")
    cb = bucket_ids(df, dim, n_planes, id_col=id_col, vec_col=vec_col, n_tables=n_tables)
    dups = cb.groupBy("bucket").applyInPandas(
        _dup_finder(threshold, id_col, vec_col), schema="dup_id long"
    )
    return df.join(
        dups.withColumnRenamed("dup_id", id_col).distinct(), on=id_col, how="left_anti"
    )


def _dup_finder(threshold: float, id_col: str, vec_col: str):
    """Per-group near-dup scan shared by the LSH (:func:`embedding_dedup`)
    and k-means-cell (:func:`semantic_dedup`) paths: within one pandas
    group, mark every vector whose cosine to a LOWER-id member >= the
    threshold (greedy keep-lowest-id).  Chunked double loop — peak memory
    (chunk x chunk) however degenerate the group; rows already marked dup
    are skipped on the query side (they stay as lower-id partners, so
    pairwise drop semantics are unchanged)."""

    def find_dups(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"dup_id": []}).astype({"dup_id": "int64"})
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        cm = _to_matrix(pdf[vec_col])
        cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
        n = len(ids)
        is_dup = np.zeros(n, dtype=bool)
        for lo in range(_SCORE_CHUNK, n, _SCORE_CHUNK):
            hi = min(lo + _SCORE_CHUNK, n)
            live = np.nonzero(~is_dup[lo:hi])[0] + lo
            if not len(live):
                continue
            for plo in range(0, lo, _SCORE_CHUNK):
                sims = cm[live] @ cm[plo:min(plo + _SCORE_CHUNK, lo)].T
                is_dup[live[np.any(sims >= threshold, axis=1)]] = True
                live = live[~is_dup[live]]
                if not len(live):
                    break
        # within-chunk pairs (including chunk 0): plain triu per chunk
        for plo in range(0, n, _SCORE_CHUNK):
            phi = min(plo + _SCORE_CHUNK, n)
            sims = cm[plo:phi] @ cm[plo:phi].T
            ii, jj = np.where(np.triu(sims >= threshold, k=1))
            is_dup[np.maximum(ii, jj) + plo] = True
        return pd.DataFrame({"dup_id": ids[is_dup].astype(np.int64)})

    return find_dups


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 0,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    sample_cap: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then within each
    cluster drop every vector whose cosine to a lower-id member exceeds
    the threshold.  Versus :func:`embedding_dedup` (sign-LSH buckets)
    the partition is data-adapted — semantically-near docs land in the
    same cell by construction — at the cost of a training step and the
    inherent SemDeDup blind spot: pairs straddling a cell boundary are
    never compared (the published method accepts this; raise n_cells
    recall by clustering tighter and lowering the threshold instead).

    Scale shape: centroid training reads a bounded driver-side sample;
    assignment is one Arrow-batched matmul pass; the only shuffle is on
    the int cell id; the per-cell scan is the shared chunked
    :func:`_dup_finder` kernel, so a degenerate cell cannot blow memory.
    Nothing driver-side scales with corpus size."""
    if not dim:
        raise ValueError("pass the embedding dimensionality")
    sample = _hash_sample(df, vec_col, sample_cap)
    cent = _kmeans_centroids(_to_matrix(sample[vec_col]), n_cells, seed)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = np.argmax(cm @ cent.T, axis=1).astype(np.int64)
            yield out

    cells = df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} array<float>, cell long"
    )
    dups = cells.groupBy("cell").applyInPandas(
        _dup_finder(threshold, id_col, vec_col), schema="dup_id long"
    )
    return df.join(
        dups.withColumnRenamed("dup_id", id_col).distinct(), on=id_col, how="left_anti"
    )


# ---------------------------------------------------------------- IVF ANN

def kmeans_train_distributed(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    iters: int = 8,
    seed: int = 11,
    vec_col: str = "embedding",
    sample_cap: int = 4096,
) -> np.ndarray:
    """Distributed spherical k-means over the full corpus.

    The sample-based trainer (:func:`_kmeans_centroids`) sees at most
    ``sample_cap`` vectors — fine for well-mixed data, biased if the
    head of the corpus isn't representative.  This variant initializes
    from the same bounded sample but then iterates over EVERYTHING:

    * assignment: one Arrow-batched matmul pass (centroids ride along in
      the closure — (n_cells x dim) doubles, broadcast-sized),
    * update: ``posexplode`` to (cell, pos, x) then ONE grouped mean per
      iteration — partial aggregation map-side, and only the
      (n_cells x dim) centroid table ever reaches the driver.

    Per-iteration cost is a corpus scan + one narrow shuffle on the
    (cell, pos) int pair; nothing driver-side scales with corpus size."""
    sample = _hash_sample(corpus, vec_col, sample_cap)
    cent = _kmeans_centroids(_to_matrix(sample[vec_col]), n_cells, seed, iters=1)

    for _ in range(iters):
        c = cent  # bind current value into the closure

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cm = _to_matrix(pdf[vec_col])
                cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
                out = pdf[[vec_col]].copy()
                out["cell"] = np.argmax(cm @ c.T, axis=1).astype(np.int64)
                yield out

        assigned = corpus.select(vec_col).mapInPandas(
            assign, schema=f"{vec_col} array<float>, cell long"
        )
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = cent.copy()
        for cell, grp in pd.DataFrame([r.asDict() for r in means]).groupby("cell"):
            v = grp.sort_values("pos")["m"].to_numpy()
            new[int(cell)] = v / (np.linalg.norm(v) or 1.0)
        cent = new
    return cent


def _kmeans_centroids(mat: np.ndarray, n_cells: int, seed: int, iters: int = 10) -> np.ndarray:
    """Tiny deterministic spherical k-means on a driver-side sample.
    The sample is small by design (centroid training reads a capped
    sample, never the full corpus); assignment is distributed."""
    rng = np.random.default_rng(seed)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / (np.linalg.norm(m) or 1.0)
    return cent


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    seed: int = 11,
    train: str = "sample",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    n_cells k-means cells; each query probes its n_probe nearest cells
    and scores only those members.

    Scale shape: centroids train on a bounded driver-side sample
    (``train="sample"``, one small collect — default) or on the full
    corpus with distributed assignment/update passes
    (``train="distributed"``, :func:`kmeans_train_distributed` — use
    when the corpus head is not representative); assignment is one
    Arrow-batched matmul pass, and the only shuffle is on the int cell
    id.  Each corpus vector lands in exactly one cell, so candidate
    pairs are unique — no dedup pass."""
    if train == "distributed":
        cent = kmeans_train_distributed(
            corpus, dim, n_cells, seed=seed, vec_col=vec_col, sample_cap=sample_cap
        )
    else:
        sample = _hash_sample(corpus, vec_col, sample_cap)
        cent = _kmeans_centroids(_to_matrix(sample[vec_col]), n_cells, seed)

    qids_all, qm_all = _collect_queries(queries, id_col, vec_col)
    probes = np.argsort(-(qm_all @ cent.T), axis=1)[:, :n_probe]  # (nq, n_probe)
    q_by_cell: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for c in range(len(cent)):
        members = np.nonzero((probes == c).any(axis=1))[0]
        if len(members):
            q_by_cell[c] = (qids_all[members], qm_all[members])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = np.argmax(cm @ cent.T, axis=1).astype(np.int64)
            yield out

    cells = corpus.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} array<float>, cell long"
    )

    score = _bucket_topk_scorer(q_by_cell, k, id_col, vec_col)
    scored = (
        cells.groupBy("cell")
        .applyInPandas(score, schema="neighbor_id long, query_id long, cos_sim double")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------- PQ ANN

def _kmeans_plain(mat: np.ndarray, k: int, seed: int, iters: int = 10) -> np.ndarray:
    """Euclidean (non-spherical) k-means for PQ sub-vector codebooks —
    sub-vectors are NOT unit vectors, so the spherical trainer above
    would distort them."""
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)].copy()
    for _ in range(iters):
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    seed: int = 11,
) -> np.ndarray:
    """Product-quantization codebooks (Jegou, Douze, Schmid: "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    vector into ``m`` sub-vectors and train an independent ``k``-entry
    Euclidean codebook per subspace on a bounded hash-ordered sample.
    Returns (m, k, dim//m) float64 — a few KB, broadcast-sized.

    This is the storage layer that makes billion-vector ANN feasible:
    a dim=64 float32 vector is 256 bytes; its PQ code is ``m`` bytes
    (here 8) — a 32x shrink that keeps the WHOLE index in memory at
    corpus sizes where raw vectors would not even fit on disk budget."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    sample = _to_matrix(_hash_sample(corpus, vec_col, sample_cap)[vec_col])
    # Train in the same metric space the queries are scored in: queries
    # are L2-normalized (_collect_queries), so codebooks must be built
    # on unit-norm corpus vectors too — then ADC squared distance is
    # 2 - 2*cos, monotone in cosine, and the shortlist agrees with the
    # exact rerank stage.
    sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    return np.stack([
        _kmeans_plain(sample[:, j * sub:(j + 1) * sub], k, seed + j)
        for j in range(m)
    ])


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Encode every vector to its m-byte PQ code (array<int> of
    per-subspace nearest-centroid ids).  Arrow-batched matmul per
    subspace; no shuffle — encoding is a pure per-row projection.
    ``keep_cols`` pass through unchanged (e.g. a pre-assigned ``cell``
    on the persisted-index write path, avoiding a re-join by id)."""
    m, _k, sub = codebooks.shape
    keep = list(keep_cols)
    kschema = ", ".join(
        f"{c} {corpus.schema[c].dataType.simpleString()}" for c in keep
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])
            # unit-norm to match the codebook training space (see pq_train)
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            codes = np.empty((len(cm), m), dtype=np.int64)
            for j in range(m):
                block = cm[:, j * sub:(j + 1) * sub]
                # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2; ||x||^2 constant per row
                dots = block @ codebooks[j].T
                c2 = (codebooks[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(c2[None, :] - 2 * dots, axis=1)
            out = {id_col: pdf[id_col].to_numpy(), "pq_code": list(codes)}
            for c in keep:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    sch = f"{id_col} long, pq_code array<long>"
    if kschema:
        sch += ", " + kschema
    return corpus.select(id_col, vec_col, *keep).mapInPandas(encode, schema=sch)


def knn_pq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    seed: int = 11,
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance computation (ADC):
    each query precomputes an (m x k) table of squared distances from
    its sub-vectors to every codebook centroid, then a corpus code's
    distance is m table lookups summed — no decompression, no float
    vector ever re-read.

    ``rerank > 0`` keeps the standard two-stage pipeline: take
    ``rerank`` ADC candidates per query, then re-score EXACTLY on the
    original vectors (one narrow semi-join by id) — recall approaches
    brute force while ADC still prunes ~all of the corpus.

    Scale shape: codebooks + query tables broadcast (KBs); the encoded
    corpus streams through one Arrow pass; only (query, candidate, est)
    narrow rows shuffle for the top-k; the rerank join moves ``rerank``
    vectors per query, not the corpus."""
    books = pq_train(corpus, dim, m, n_codes, vec_col, sample_cap, seed)
    qids, qm = _collect_queries(queries, id_col, vec_col)
    sub = dim // m
    # (nq, m, k) ADC tables of squared sub-distances
    tables = np.stack([
        ((qm[:, j * sub:(j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        for j in range(m)
    ], axis=1)

    codes = pq_encode(corpus, books, id_col, vec_col)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)  # (nc, m)
            nc, nq = len(cm), len(qids)
            # gather: est[c, q] = sum_j tables[q, j, code[c, j]]
            est = np.zeros((nc, nq))
            for j in range(m):
                est += tables[:, j, :][:, cm[:, j]].T  # (nc, nq)
            yield pd.DataFrame({
                "neighbor_id": np.repeat(pdf[id_col].to_numpy(), nq),
                "query_id": np.tile(qids, nc),
                "adc_dist": np.round(est.ravel(), 6),
            })

    scored = codes.mapInPandas(
        score, schema="neighbor_id long, query_id long, adc_dist double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    exact = cand.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col), "neighbor_id"
    )

    def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qpos = {int(q): i for i, q in enumerate(qids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _to_matrix(pdf[vec_col])
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            qs = np.array([qpos[int(q)] for q in pdf["query_id"]])
            sims = np.einsum("ij,ij->i", cm, qm[qs])
            yield pd.DataFrame({
                "query_id": pdf["query_id"].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "cos_sim": np.round(sims, 6),
            })

    rescored = exact.mapInPandas(
        rescore, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


# --------------------------------------------- persisted incremental ANN index

# Anchor counts past this dispatch to the Arrow-batched matmul kernel:
# each expression-kernel cosine is an O(dims) interpreted fold, so plan
# size AND per-row cost grow with |anchors| — the ann_anchor_scale probe
# measured superlinear wall-clock by 160 anchors, while the lifecycle
# prescribes C ~ sqrt(N) (10^4-10^5 cells at 100 TB).  Every oracle-gated
# query uses far fewer anchors than this, so gate SFs stay on the
# bit-exact expression kernel by default.
_VEC_KERNEL_ANCHOR_THRESHOLD = 128

_KERNELS = ("auto", "expr", "vectorized")


def _resolve_kernel(kernel: str, n_anchors: int) -> str:
    if kernel not in _KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")
    if kernel == "auto":
        return "vectorized" if n_anchors > _VEC_KERNEL_ANCHOR_THRESHOLD else "expr"
    return kernel


def _spread_broadcast_probe(df: DataFrame) -> DataFrame:
    """Round-robin a broadcast-small frame across the session's cores
    when its scan would otherwise under-parallelize the pair fan-out it
    probes: a corpus that fits one parquet split reads as ONE task, and
    when the planner broadcasts the other self-join side, every
    within-cell pair's interpreted dot fold lands in that single task.
    Only fires when the plan-estimated size is under the session's
    broadcast threshold (so the join's other side is the broadcast and
    this extra exchange moves a few MB once) AND the current partition
    count is below ``defaultParallelism``; a corpus past the threshold
    is returned unchanged — there the planner keys both sides on the
    cell and that exchange provides the parallelism.  Unknown stats
    (:meth:`Sink.plan_bytes` is None) leave the frame unchanged.

    Applied to the batch miner's probe side and to the query side of
    both top-k paths: a query slice that fits one split ran its probe
    folds and pair scoring as ONE task (profiled on
    ``index_topk_search``: a 1.5 s single-task stage of a 3.0 s query)."""
    from py4j.protocol import Py4JError

    from tubes_spark.sink import Sink

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        est = Sink.plan_bytes(df)
        thr = Sink.broadcast_threshold(df.sparkSession)
        if (
            est is not None and 0 < est <= max(thr, 0)
            and df.rdd.getNumPartitions() < par
        ):
            return df.repartition(par)
    except (AttributeError, Py4JError):  # no JVM plan to ask
        pass
    return df


def _assign_cells_vectorized(
    df: DataFrame,
    vec_col: str,
    anchors: "list[list[float]]",
    out_col: str = "cell",
    n_probe: int = 1,
    probes_col: "str | None" = None,
    score_col: "str | None" = None,
) -> DataFrame:
    """Large-codebook cell assignment (VERDICT r12 #1): ONE broadcast
    anchor matrix + one Arrow-batched BLAS matmul per corpus batch,
    `argmax` per row — cost linear in rows and independent of plan
    size, so the codebook can grow ~ sqrt(N) (10^4+ cells) where the
    expression kernel's |anchors| interpreted fold expressions per row
    stop compiling.  Semantics mirror :func:`_sql_cell_expr` exactly:
    cosine argmax with ties toward the smallest anchor id (numpy's
    first-max argmax; the probe list uses a STABLE descending sort, so
    element 0 is the argmax and ties keep ascending aid order).  The
    only difference is summation order — BLAS pairwise vs the
    expression kernel's sequential fold — which can flip an argmax
    only when two anchor cosines agree to ~1 ulp; gate-SF parity is
    test-pinned, and oracle-gated queries keep the expression kernel
    (they sit under the threshold).

    With ``probes_col`` set, also emits the top-``n_probe`` cells per
    row (the IVF nprobe rule, same tiebreak as
    :func:`_sql_probe_cells`) from the SAME matmul — the arriving
    side of the incremental screen pays one pass either way."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    A = np.asarray(anchors, dtype=np.float64)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast(An)
    in_cols = list(df.columns)
    fields = list(df.schema.fields) + [StructField(out_col, IntegerType(), False)]
    if probes_col is not None:
        fields.append(
            StructField(probes_col, ArrayType(IntegerType(), False), False)
        )
    if score_col is not None:
        from pyspark.sql.types import DoubleType

        fields.append(StructField(score_col, DoubleType(), False))
    p = int(n_probe)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M = bc.value  # (C, dims), unit rows
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _to_matrix(pdf[vec_col])
            sims = (V / np.linalg.norm(V, axis=1, keepdims=True)) @ M.T
            out = pdf[in_cols].copy()
            out[out_col] = sims.argmax(axis=1).astype(np.int32)
            if probes_col is not None:
                order = np.argsort(-sims, axis=1, kind="stable")[:, :p]
                out[probes_col] = [row.astype(np.int32) for row in order]
            if score_col is not None:
                # cosine to the assigned (argmax) centroid
                out[score_col] = sims.max(axis=1)
            yield out

    return df.mapInPandas(assign, schema=StructType(fields))


def _with_cell(
    df: DataFrame,
    vec_col: str,
    anchors: "list[list[float]]",
    out_col: str = "cell",
    kernel: str = "auto",
) -> DataFrame:
    """``df`` + an anchor-argmax ``out_col`` column: the primary cell of
    :func:`_probe_assign` (k-means training and the ``ann_*`` queries),
    so a bad vector fails with ``invalid ANN vector`` here too.
    ``kernel`` resolves by :func:`_resolve_kernel`: the expression kernel
    up to ``_VEC_KERNEL_ANCHOR_THRESHOLD`` anchors, whose norm fold is
    hoisted into its own projection and runs once per row
    (tests/test_round12.py counts it in the optimized plan), and the
    broadcast matmul above it — the 100 TB path for codebooks grown
    ~ sqrt(N)."""
    return _probe_assign(
        df, vec_col, anchors, _resolve_kernel(kernel, len(anchors))
    ).drop("__nv__").withColumnRenamed("cell", out_col)


def _read_published_table(group_dir: str, fname: str, missing_msg: str):
    """Read a staged-then-published group artifact with full crash
    recovery (ADVICE r11/r12): the artifact is staged to
    ``.tmp.<fname>`` BEFORE the bootstrap epoch commits and renamed
    into place only AFTER, so a durable record can never describe a
    batch no reader saw.  Recovery cases handled here, identically for
    every artifact (anchors, PQ codebooks, ...):

    - publish crashed mid-window: any later reader finishes the rename;
    - two readers race that recovery: the loser's rename finds the
      staged file gone and reads the now-published one;
    - a read-only mount cannot rename: read the staged copy, whose
      CONTENT is the publish (the rename only flips visibility, and an
      epoch has committed, so the staged record is live) — with a
      TOCTOU tail where a writer-capable reader finishes the rename
      between path choice and read (the content moved, it did not
      vanish: re-read the published file);
    - committed epochs with NEITHER file: the group is corrupt —
      refuse with ``missing_msg`` rather than silently re-deriving."""
    import os

    import pyarrow.parquet as pq

    from tubes_spark.sink import Sink

    final = f"{group_dir}/{fname}"
    tmp = f"{group_dir}/.tmp.{fname}"
    if not os.path.exists(final):
        epochs, _, _ = Sink._committed_epochs(group_dir)
        if not epochs:
            raise FileNotFoundError(final)
        if not os.path.exists(tmp):
            raise ValueError(missing_msg)
        try:
            os.replace(tmp, final)  # finish the interrupted publish
        except (FileNotFoundError, PermissionError) as exc:
            if not os.path.exists(final):
                if isinstance(exc, PermissionError) and os.path.exists(tmp):
                    final = tmp
                else:
                    raise
    published = f"{group_dir}/{fname}"
    try:
        return pq.read_table(final)
    except FileNotFoundError:
        if final != published and os.path.exists(published):
            return pq.read_table(published)
        raise


def _read_anchors(group_dir: str) -> "list[list[float]]":
    """Published anchors (see :func:`_read_published_table` for the
    staged-publish crash/race/read-only recovery contract)."""
    t = _read_published_table(
        group_dir, "_anchors.parquet",
        f"ANN index {group_dir} has committed epochs but no anchor "
        "record (neither published nor staged) — the index is "
        "unreadable; rebuild it rather than re-deriving anchors, "
        "which would silently reassign every stored cell",
    )
    rows = sorted(zip(t["aid"].to_pylist(), t["vec"].to_pylist()))
    return [[float(x) for x in vec] for _, vec in rows]


def _stage_table(group_dir: str, fname: str, columns: dict) -> None:
    """Write a small group artifact (anchors, PQ codebooks) to its
    deterministic staging name ``.tmp.<fname>`` — NOT yet visible to
    :func:`_read_published_table`, which recovers a staged file only
    once an epoch has committed; :func:`_commit_index_epoch` publishes
    it after the epoch commits."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(group_dir, exist_ok=True)
    scratch = f"{group_dir}/..writing.{fname}"
    pq.write_table(pa.table(columns), scratch)
    os.replace(scratch, f"{group_dir}/.tmp.{fname}")


def kmeans_anchors_decimal(
    batch: DataFrame,
    n_anchors: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    train_cap: "int | None" = None,
    kernel: str = "expr",
) -> "list[list[float]]":
    """Spherical k-means (Dhillon & Modha 2001, cosine-similarity
    Lloyd iterations) whose trained centroids BOTH engines re-derive
    bit-identically — the anchor-lifecycle answer for the persisted
    vector index (VERDICT r11 #1): a real codebook, still under the
    full DuckDB value-hash gate.

    Why it is exact across engines: every step is either (a) the
    ordered-fold cosine argmax already proven bit-identical by the
    anchor-cell gates (assignment; ties break toward the smaller
    anchor id, like the oracle's ``ORDER BY cos DESC, aid ASC``), or
    (b) ORDER-FREE integer arithmetic (update): components quantize to
    ``q = floor(x * scale + 0.5)`` BIGINTs, the per-(cell, dim) sum of
    BIGINTs is exact regardless of partial-aggregation order, and the
    rounded mean ``floor((2*sum + cnt) / (2*cnt))`` (half-up, computed
    in doubles that stay well inside 2^53) is one deterministic IEEE
    division.  The centroid component is ``q_mean / scale`` — the same
    double on any engine.  Cosine assignment is scale-invariant, so
    skipping centroid normalization IS spherical k-means (the
    normalized mean points the same way as the mean).

    Init: the ``n_anchors`` smallest-``id_col`` vectors (the same rule
    the untrained bootstrap uses); an iteration's empty cell keeps its
    previous centroid.  Distributed shape per iteration: one corpus
    scan assigning cells (|anchors| fold cosines sharing one hoisted
    norm, no Python), ``posexplode`` + one grouped BIGINT sum (partial
    map-side), and only the (n_anchors x dims) centroid table reaches
    the driver.

    ``train_cap=K`` bounds the training set at 100 TB (centroid
    quality needs a sample, not the corpus): the K rows ranked first
    by the md5-arith hash of ``id_col`` — a deterministic,
    engine-portable shuffle of the corpus, the same rule as
    ``bpe_train(train_sample=...)``, so a capped trainer stays
    oracle-re-derivable and the cap is a pinned no-op whenever
    K >= |batch|.  The plan is a distributed TakeOrderedAndProject
    (per-partition top-K heaps, no global sort materialized).

    ``kernel`` picks the ASSIGNMENT kernel (r13).  The default
    ``"expr"`` keeps the bit-identical-across-engines contract above —
    assignment cosines fold dims in index order on both engines.
    ``"vectorized"`` assigns through the broadcast-matmul kernel
    (:func:`_assign_cells_vectorized`): still fully deterministic
    (per-row numpy math, batch-independent) and the quantized update
    stays exact integer arithmetic, but BLAS summation order is not
    the oracle's fold order, so the cross-engine bit-exactness claim
    is waived — use it (or ``"auto"``) when training real 10^3+ cell
    codebooks, where no SQL oracle could unroll the CTE anyway."""
    import math

    kernel = _resolve_kernel(kernel, int(n_anchors))
    if train_cap is not None:
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        batch = (
            batch.select(id_col, vec_col)
            .orderBy(h.asc(), F.col(id_col).asc())
            .limit(int(train_cap))
        )
    head = (
        batch.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_anchors)
        .collect()
    )
    cent: "list[list[float]]" = [[float(x) for x in r[vec_col]] for r in head]
    if not cent:
        return cent
    dims = len(cent[0])
    for _ in range(int(iters)):
        assigned = _with_cell(batch.select(vec_col), vec_col, cent, kernel=kernel)
        q = F.floor(F.col("x").cast("double") * F.lit(float(scale)) + F.lit(0.5))
        sums = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .withColumn("q", q.cast("long"))
            .groupBy("cell", "pos")
            # DECIMAL(38,0) sum: exact to 38 digits, so a huge cell can
            # never WRAP the way a bigint sum silently does at 2^63 —
            # the 2^53 guard below sees the true magnitude and fails
            # loudly instead of blessing a wrapped value that happens
            # to land back inside the mantissa range.
            .agg(
                F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        new = [list(a) for a in cent]
        for r in sums:
            # ADVICE r12: the half-up mean is exact only while
            # |2*sum + cnt| fits a double's 53-bit mantissa; a huge
            # cell at high `scale` would silently diverge from the
            # DuckDB oracle past that.  Fail loudly instead — the
            # remedy is a lower `scale` or a `train_cap`.
            if abs(2 * int(r["s"]) + int(r["c"])) >= 2**53:
                raise ValueError(
                    "kmeans_anchors_decimal: |2*sum + count| for cell "
                    f"{int(r['cell'])} dim {int(r['pos'])} exceeds 2^53 — "
                    "the rounded mean would lose bit-exactness across "
                    "engines; lower `scale` or bound the training set "
                    "with `train_cap`"
                )
            qm = float(
                math.floor((2.0 * float(r["s"]) + float(r["c"])) / (2.0 * float(r["c"])))
            )
            new[int(r["cell"])][int(r["pos"])] = qm / float(scale)
        # cells with no members never appear in `sums` -> keep previous
        cent = new
        assert all(len(a) == dims for a in cent)
    return cent


def write_ann_index(
    batch: DataFrame,
    group_dir: str,
    n_anchors: int = 16,
    epoch: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: "int | None" = None,
    anchors: "list[list[float]] | None" = None,
    kernel: str = "auto",
    payload_cols: "list[str] | None" = None,
) -> None:
    """Bootstrap (or extend) a PERSISTED vector index as an atomic
    bucketed parquet group — the embedding-space sibling of
    ``dedup.write_minhash_index``.  Leaf ``cells`` holds
    (vec_id, cell, embedding) BUCKETED on ``cell``, so the incremental
    screen's join plans a bucketed FileScan with no Exchange on the
    index side; vectors are stored in the index (IVF-style inverted
    lists) so no later run ever re-reads or re-embeds the original
    corpus.

    ``payload_cols`` (r13) stores extra per-vector columns in the
    leaf — e.g. a training ``label`` so :func:`index_hard_negatives`
    can mine against the index without any corpus re-read.  The
    payload is part of the leaf schema for the index's lifetime:
    incremental appends require (and carry) the same columns, and
    rebuild/compaction preserve them.

    Anchors (cell seeds) are fixed at bootstrap.  Pass ``anchors=`` to
    seed the cells with a TRAINED codebook — the intended 100 TB path:
    ``kmeans_anchors_decimal`` (decimal-exact spherical k-means whose
    centroids both engines re-derive bit-identically, so the whole
    index stays under the DuckDB value-hash gate) or
    ``kmeans_train_distributed`` (float centroids; recall/contract
    gates instead).  Grow ``len(anchors)`` ~ sqrt(corpus) at scale so
    inverted lists — and the within-cell quadratic screen — stay flat;
    SCALE_PROBE ``ann_anchor_scale`` measures exactly this.  Without
    ``anchors=`` the bootstrap falls back to the ``n_anchors``
    smallest-``id_col`` vectors of the first batch (deterministic,
    SQL-reproducible, fine for bounded corpora).

    Publish ordering (ADVICE r11): anchors are STAGED before the
    bootstrap epoch is written and renamed to ``_anchors.parquet``
    only after the epoch's group commit marker lands — mirroring how
    the marker gates data visibility, so a crash can never leave
    durable anchors derived from a batch no reader ever saw.  A replay
    of an already-committed bootstrap epoch reuses the recorded
    anchors (recovering a staged file if the publish itself crashed)
    rather than re-deriving them from the replay batch.  Once
    published they are immutable for the index's lifetime —
    reassigning cells would orphan every stored row.

    Scale shape: cell assignment is |anchors| expression-level cosines
    per row sharing ONE hoisted norm fold (no shuffle, no Python) up
    to ``_VEC_KERNEL_ANCHOR_THRESHOLD`` anchors, and ONE Arrow-batched
    broadcast matmul per batch above it (``kernel="auto"``, r13 — how
    a sqrt(N)-sized codebook stays assignable); the bucketed write is
    the only shuffle.

    A NULL, NULL-element, wrong-length or zero embedding (or seed
    anchor) fails the call with ``invalid ANN vector`` before any epoch
    commits or anchor record is published (:func:`_probe_assign`)."""
    if kernel not in _KERNELS:  # before any staging/commit side effect
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")
    payload = list(payload_cols or [])
    reserved = [c for c in payload if c in (id_col, vec_col, "cell", "epoch")]
    if reserved:
        raise ValueError(
            f"payload_cols may not use reserved leaf names: {reserved}"
        )
    missing = [c for c in payload if c not in batch.columns]
    if missing:
        raise ValueError(f"payload_cols not in batch: {missing}")
    cell_anchors, established = _seed_anchors(
        batch, group_dir, anchors, n_anchors, id_col, vec_col
    )
    if established:
        # extending an established index: the leaf schema is part of the
        # index contract — a payload mismatch in either direction would
        # commit an epoch later readers cannot union with the rest
        existing = _leaf_extra_cols(group_dir, id_col, vec_col, default=None)
        if existing is not None and payload != existing:
            raise ValueError(
                f"index {group_dir} stores payload columns {existing}; "
                f"this write declares {payload} — extend epochs must "
                "carry the leaf's exact schema (rebuild the index to "
                "change it)"
            )
    cells = _probe_assign(
        batch.select(id_col, vec_col, *payload), vec_col, cell_anchors,
        _resolve_kernel(kernel, len(cell_anchors)),
    ).select(id_col, "cell", vec_col, *payload)
    _commit_index_epoch(cells, batch, group_dir, n_buckets, epoch, ["_anchors.parquet"])


def _seed_anchors(
    batch: DataFrame, group_dir: str, anchors, n_anchors: int,
    id_col: str, vec_col: str,
) -> "tuple[list[list[float]], bool]":
    """(the index's cell anchors, whether the index is established).
    An established index — one with a committed epoch or published
    anchors (an interrupted publish counts) — keeps its recorded
    anchors; passing different ones raises, like a ``_bucketspec``
    mismatch, since re-seeding would orphan every stored cell row.  A
    new index takes ``anchors`` or the ``n_anchors``
    smallest-``id_col`` vectors of the batch and STAGES them;
    :func:`_commit_index_epoch` publishes them after the epoch
    commits."""
    import os

    from tubes_spark.sink import Sink

    published = os.path.exists(f"{group_dir}/_anchors.parquet")
    if published or Sink._committed_epochs(group_dir)[0]:
        cell_anchors = _read_anchors(group_dir)
        passed = None if anchors is None else [[float(x) for x in a] for a in anchors]
        if passed is not None and passed != cell_anchors:
            raise ValueError(
                f"index {group_dir} already has a published anchor "
                "codebook; anchors are immutable for the index's "
                "lifetime (rebuild the index to re-seed)"
            )
        return cell_anchors, True
    if anchors is None:
        anchors = [
            r[vec_col]
            for r in batch.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(n_anchors)
            .collect()
        ]
    cell_anchors = [[float(x) for x in a] for a in anchors]
    if any(
        len(a) != len(cell_anchors[0]) or _anchor_norm(a) == 0
        for a in cell_anchors
    ):  # every cosine to such an anchor divides by zero
        raise ValueError(_bad_vector_msg("anchors", len(cell_anchors[0])))
    _stage_table(group_dir, "_anchors.parquet", {
        "aid": list(range(len(cell_anchors))), "vec": cell_anchors,
    })
    return cell_anchors, False


def _commit_index_epoch(
    leaf: DataFrame, batch: DataFrame, group_dir: str,
    n_buckets: "int | None", epoch: int, staged: "list[str]",
) -> None:
    """Append ``leaf`` as epoch ``epoch`` of the index's bucketed
    ``cells`` leaf (a new index sizes its buckets from ``batch``), then
    publish the ``staged`` group artifacts — the publish point: the
    epoch committed above, so no durable record describes a batch no
    reader saw."""
    import os

    from tubes_spark.sink import Sink

    if n_buckets is None and Sink._bucket_spec(group_dir) is None:
        n_buckets = Sink.size_derived_buckets(batch)
    Sink.append_bucketed_epoch(
        leaf, group_dir, "cells", ["cell"], n_buckets, epoch=epoch
    )
    for fname in staged:
        final, tmp = f"{group_dir}/{fname}", f"{group_dir}/.tmp.{fname}"
        if not os.path.exists(final) and os.path.exists(tmp):
            os.replace(tmp, final)


def rebuild_ann_index(
    spark,
    old_dir: str,
    new_dir: str,
    anchors: "list[list[float]] | None" = None,
    n_anchors: "int | None" = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: "int | None" = None,
    kernel: str = "auto",
) -> "list[list[float]]":
    """Re-seed a grown index with a fresh codebook — the rebuild arm of
    the anchor lifecycle (anchors are immutable in place, so growing
    the cell count ~ sqrt(N) as the corpus ages means periodically
    rebuilding into a NEW group dir and switching readers over, the
    same pattern as any bucket-count change on a bucketed table).

    The original corpus is never re-read: the stored ``cells`` leaf IS
    the vector set, so the rebuild is one index scan + one bucketed
    write.  Pass ``anchors=`` (e.g. from :func:`kmeans_anchors_decimal`
    over the stored vectors) or let this train one here with
    ``n_anchors`` cells.  Returns the codebook it seeded, so callers
    can gate/pin it.  ``new_dir`` must not already be an index."""
    import os

    from tubes_spark.sink import Sink

    if os.path.exists(f"{new_dir}/_anchors.parquet"):
        raise ValueError(f"{new_dir} already holds an ANN index")
    if _is_pq_index(old_dir):
        raise ValueError(
            f"{old_dir} is a PQ-compressed index (no stored vectors); a "
            "rebuild must re-read the original corpus and write a fresh "
            "index — see write_pq_ann_index's docstring for the trade"
        )
    extra = _leaf_extra_cols(old_dir, id_col, vec_col)
    # read through the sides helper so published tombstones are
    # excluded — a rebuild must not resurrect deleted ids in new_dir
    import functools

    _sides = _read_index_sides(spark, old_dir)
    stored = (
        functools.reduce(
            DataFrame.unionByName,
            [s.select(id_col, vec_col, *extra) for s in _sides],
        )
        if _sides
        else None
    )
    # rows, not files: an all-deleted index has live dirs whose every
    # row the tombstone anti-join removes — refuse before training a
    # codebook on a 0-row corpus with a confusing downstream error
    if stored is None or not stored.take(1):
        raise ValueError(f"index {old_dir} holds no live stored rows")
    if anchors is None:
        if n_anchors is None:
            raise ValueError("pass anchors= or n_anchors=")
        anchors = kmeans_anchors_decimal(
            stored, n_anchors=n_anchors, iters=iters,
            id_col=id_col, vec_col=vec_col,
            # rebuilds are where codebooks GROW; auto lets a sqrt(N)
            # target train through the matmul kernel while small
            # (oracle-gated) rebuilds keep the bit-exact fold
            kernel=kernel,
        )
    write_ann_index(
        stored, new_dir, id_col=id_col, vec_col=vec_col,
        n_buckets=n_buckets, anchors=anchors, kernel=kernel,
        payload_cols=extra,
    )
    return [[float(x) for x in a] for a in anchors]


def _leaf_extra_cols(
    group_dir: str, id_col: str, vec_col: str,
    default: "list[str] | None" = (),
) -> "list[str] | None":
    """Payload column names of the index's ``cells`` leaf (columns
    beyond id/cell/vector), read from one parquet footer — cheap, no
    Spark job.  When NO live dir holds a part file (nothing to infer
    from), returns ``default`` — pass ``default=None`` to distinguish
    "no files yet" from "payload-free leaf".  The sink's internal
    ``epoch`` lineage column is excluded: compaction materializes it
    into the compact part files (epoch dirs carry it in the directory
    name instead), so it shows up in footers without ever being user
    payload — ``payload_cols=["epoch"]`` is rejected at write time for
    exactly this reason."""
    import pyarrow.parquet as pq

    from tubes_spark.sink import Sink

    parts = Sink.live_part_files(group_dir, "cells")
    if not parts:
        return None if default is None else list(default)
    names = pq.ParquetFile(parts[0][0]).schema_arrow.names
    return [c for c in names if c not in (id_col, "cell", vec_col, "epoch")]


def _read_index_sides(spark, group_dir: str) -> "list[DataFrame]":
    """Live frames of the index's ``cells`` leaf, one zero-Exchange
    bucketed read per live dir (:meth:`Sink.read_bucketed_leaf`).

    Published tombstones (:func:`delete_from_ann_index`) are excluded
    HERE, so every consumer — screen, mining, top-k, stats, rebuild —
    forgets deleted ids at once: a broadcast anti-join per frame (the
    tombstone side is tiny; the index side still never crosses an
    Exchange).  No tombstones → no extra plan nodes."""
    from tubes_spark.sink import Sink

    sides = Sink.read_bucketed_leaf(spark, group_dir)
    tombs = _read_tombstones(spark, group_dir)
    if tombs is not None and sides:
        key = tombs.columns[0]
        sides = [
            s.join(F.broadcast(tombs), on=key, how="left_anti") for s in sides
        ]
    return sides


# ---------------------------------------- persisted-index core
#
# Every reader and writer of the persisted index composes the same
# stages in series: probe assignment (:func:`_probe_assign`), a join of
# the probe rows to the stored rows of the same cell scored with the
# SQL fold (:func:`_score_cells`) or one per-cell matmul
# (:func:`_cell_topk_vectorized`), and one rank (:func:`_rank`).


def _bad_vector_msg(vec_col: str, dim: int) -> str:
    return (
        f"invalid ANN vector in column {vec_col}: NULL, a NULL element, a "
        f"length other than the anchors' {dim}, or a zero norm"
    )


def _probe_assign(
    df: DataFrame,
    vec_col: str,
    anchors: "list[list[float]]",
    kernel: str,
    n_probe: int = 1,
) -> DataFrame:
    """``df`` plus ``__nv__`` (the vector's norm, carried so pair
    scoring divides by it instead of re-folding it per candidate pair),
    ``cell`` (the primary, argmax cell) and, for ``n_probe`` > 1,
    ``__probes__`` (the top-``n_probe`` cells, primary first) — the
    one cell assignment of index writes, screens, serving and mining.
    ``kernel`` is resolved: the expression kernel is
    :func:`_sql_cell_expr` at ``n_probe`` = 1 and
    :func:`_sql_probe_cells` above it, over the hoisted norm; the
    vectorized kernel is one matmul (:func:`_assign_cells_vectorized`).

    The norm is guarded in the fold's finish step, at no extra pass
    over the vector: a NULL vector (folded as an empty one), a NULL
    element (a NULL sum), a length other than the anchors' or a zero
    sum of squares makes it ``raise_error`` — the error surfaces from
    the job that evaluates the assignment, ahead of any division, with
    ANSI on or off (:func:`_snapshot_stage` mirrors it).  Its
    double is :func:`_sql_norm`'s: the same fold, then ``SQRT``."""
    vq = f"`{vec_col}`"
    dim = len(anchors[0]) if anchors else 0
    msg = _bad_vector_msg(vec_col, dim).replace("\\", "\\\\").replace("'", "\\'")
    df = df.withColumn("__nv__", F.expr(
        f"aggregate(coalesce({vq}, array()), 0.0D, (acc, v) -> acc + "
        f"CAST(v AS DOUBLE) * CAST(v AS DOUBLE), acc -> IF(acc > 0.0D AND "
        f"size({vq}) = {dim}, SQRT(acc), raise_error('{msg}')))"
    ))
    if kernel == "vectorized":
        return _assign_cells_vectorized(
            df, vec_col, anchors, out_col="cell", n_probe=int(n_probe),
            probes_col="__probes__" if n_probe > 1 else None,
        )
    if n_probe == 1:
        return df.withColumn(
            "cell", F.expr(_sql_cell_expr(vq, anchors, "`__nv__`"))
        )
    return df.withColumn(
        "__probes__",
        F.expr(_sql_probe_cells(vq, anchors, int(n_probe), "`__nv__`")),
    ).withColumn("cell", F.element_at("__probes__", 1))


def _or_empty(sides: "list[DataFrame]", like: DataFrame) -> "list[DataFrame]":
    """``sides``, or — for an index with no live row file — one empty
    frame shaped like ``like``, so an empty index runs the same plan to
    an empty result typed from the query side."""
    return sides or [like.limit(0)]


def _cell_pairs(
    ab: DataFrame, n_probe: int, sides: "list[DataFrame]", cols: list,
    on: "Column | None" = None,
) -> DataFrame:
    """Every probe row of ``ab`` (alias ``a``; one row per probed cell)
    joined to the rows of the same cell of each stored frame (alias
    ``s``; the bucketed inverted lists, so the index side crosses no
    Exchange), ``on`` an extra join condition, projected to ``cols`` and
    unioned across frames."""
    import functools

    key = "cell"
    if n_probe > 1:
        # explode_outer: a probe list is never empty or NULL (bad vectors
        # raise first), and unlike explode it makes Catalyst infer no
        # size(__probes__) > 0 filter that would re-evaluate the whole
        # probe-cell expression below the assignment
        ab = ab.withColumn("__pcell__", F.explode_outer("__probes__"))
        key = "__pcell__"
    frames = []
    for s in sides:
        cond = F.col(f"a.{key}") == F.col("s.cell")
        frames.append(
            ab.alias("a")
            .join(s.alias("s"), cond if on is None else cond & on)
            .select(*cols)
        )
    return functools.reduce(DataFrame.union, frames)


def _score_cells(
    ab: DataFrame, n_probe: int, sides: "list[DataFrame]", vec_col: str,
    cols: list, on: "Column | None" = None,
) -> DataFrame:
    """:func:`_cell_pairs` plus the pair cosine ``cs`` — the SQL fold
    ``dot / (a.__nv__ * s.__ns__)``, the stored norm folded once per
    stored row (a narrow projection over the bucketed scan, so its
    partitioning on ``cell`` is kept)."""
    vq = f"`{vec_col}`"
    cs = F.expr(_sql_dot(f"a.{vq}", f"s.{vq}")) / (
        F.col("a.__nv__") * F.col("s.__ns__")
    )
    sides = [s.withColumn("__ns__", F.expr(_sql_norm(vq))) for s in sides]
    return _cell_pairs(ab, n_probe, sides, [*cols, cs.alias("cs")], on)


def _rank(scored: DataFrame, id_col: str, k: int, score: Column) -> DataFrame:
    """The top ``k`` rows per ``id_col`` ordered by ``score`` then
    ``match_id`` ascending, numbered in ``rank``."""
    w = Window.partitionBy(id_col).orderBy(score, F.col("match_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= int(k)
    )


def _kernel_input(
    ab: DataFrame, n_probe: int, sides: "list[DataFrame]", id_col: str,
    vec_col: str, payload: "list[str]",
) -> DataFrame:
    """:func:`_cell_topk_vectorized`'s input: every stored row
    (``__stored__`` = 1) and one row per (query, probed cell)
    (``__stored__`` = 0), payload the query's own column or NULL."""
    import functools

    stored = functools.reduce(
        DataFrame.unionByName,
        [s.select(id_col, "cell", vec_col, *payload) for s in sides],
    )
    if n_probe > 1:
        ab = ab.drop("cell").withColumn("cell", F.explode_outer("__probes__"))
    return stored.withColumn("__stored__", F.lit(1)).unionByName(
        ab.select(
            id_col, "cell", vec_col,
            *[c if c in ab.columns
              else F.lit(None).cast(stored.schema[c].dataType).alias(c)
              for c in payload],
        ).withColumn("__stored__", F.lit(0))
    )


def _cell_topk_vectorized(
    cells: DataFrame, id_col: str, vec_col: str, k: int,
    payload: "list[str]", label_col: "str | None" = None,
    self_join: bool = False,
) -> DataFrame:
    """Per-cell matmul kernel: one Arrow-batched group per cell; for
    each query row its LOCAL top ``k`` stored rows of the cell by
    unrounded cosine, as (id, [label_col], cell, match_<payload>,
    match_id, cs).  Queries are the ``__stored__`` = 0 rows and
    candidates the ``__stored__`` = 1 rows (:func:`_kernel_input`), or —
    ``self_join`` (the batch miner) — every row is both, so no row is
    shuffled twice.  ``label_col`` masks candidates whose label equals
    the query's or either label is NULL (SQL: ``NULL <> x`` drops the
    pair).

    Candidates are id-sorted, so numpy's first argmax (``k`` = 1) and
    stable argsort reproduce the fold path's (cosine DESC, match_id ASC)
    tiebreak — ties at the k-th place included (duplicate stored vectors
    are a designed-for state under ``append_scope="all"``).  Queries are
    row-blocked (1024 at a time) so the (block x cell) cosine matrix
    stays bounded.  BLAS summation can differ from the sequential fold
    by ~1 ulp, so this path waives the bit-exact oracle contract; the
    caller merges per-cell locals with one global :func:`_rank`, which
    sees at most ``n_probe * k`` rows per query."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    id_f = cells.schema[id_col].dataType
    schema = StructType(
        [StructField(id_col, id_f, False)]
        + ([StructField(label_col, cells.schema[label_col].dataType, True)]
           if label_col is not None else [])
        + [StructField("cell", IntegerType(), False)]
        + [StructField(f"match_{c}", cells.schema[c].dataType, True)
           for c in payload]
        + [StructField("match_id", id_f, False),
           StructField("cs", DoubleType(), False)]
    )

    def unit(pdf: pd.DataFrame) -> np.ndarray:
        m = _to_matrix(pdf[vec_col])
        return m / np.linalg.norm(m, axis=1, keepdims=True)

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if self_join:
            stored = arr = pdf.sort_values(
                id_col, kind="mergesort"
            ).reset_index(drop=True)
        else:
            is_s = pdf["__stored__"] == 1
            stored = pdf[is_s].sort_values(
                id_col, kind="mergesort"
            ).reset_index(drop=True)
            arr = pdf[~is_s].reset_index(drop=True)
        if len(stored) == 0 or len(arr) == 0:
            return pd.DataFrame({f.name: pd.Series(dtype="object") for f in schema})
        Sn = unit(stored)
        An = Sn if self_join else unit(arr)
        s_ids, a_ids = stored[id_col].to_numpy(), arr[id_col].to_numpy()
        if label_col is not None:
            s_lab, a_lab = stored[label_col].to_numpy(), arr[label_col].to_numpy()
            s_na = pd.isna(stored[label_col]).to_numpy()
            a_na = pd.isna(arr[label_col]).to_numpy()
        kk = min(int(k), len(stored))
        outs = []
        for s in range(0, len(arr), 1024):
            b = slice(s, s + 1024)
            sims = An[b] @ Sn.T
            if label_col is not None:
                sims[(a_lab[b, None] == s_lab[None, :])
                     | a_na[b, None] | s_na[None, :]] = -np.inf
            pick = (
                sims.argmax(axis=1)[:, None] if kk == 1
                else np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            )
            top = np.take_along_axis(sims, pick, axis=1).ravel()
            keep = ~np.isneginf(top)  # a masked candidate never ranks
            rows = np.repeat(np.arange(s, s + len(pick)), kk)[keep]
            cols = pick.ravel()[keep]
            out = {id_col: a_ids[rows]}
            if label_col is not None:
                out[label_col] = a_lab[rows]
            out["cell"] = int(pdf["cell"].iloc[0])
            for c in payload:
                out[f"match_{c}"] = stored[c].to_numpy()[cols]
            out["match_id"], out["cs"] = s_ids[cols], top[keep]
            outs.append(pd.DataFrame(out))
        return pd.concat(outs, ignore_index=True)

    return cells.groupBy("cell").applyInPandas(topk, schema)


def _hard_negatives(
    ab: DataFrame, sides: "list[DataFrame] | None", id_col: str,
    vec_col: str, label_col: str, kernel: str,
) -> DataFrame:
    """Both miners' ledger (id, label, cell, neg_id, neg_label, neg_sim):
    per query row of ``ab`` (:func:`_probe_assign`, one cell), the best
    stored row of its cell with a different ``label_col``, ranked
    (cosine DESC, neg_id ASC) and rounded by Spark.  ``sides`` None is
    the batch miner, whose stored rows are ``ab`` itself."""
    if kernel == "vectorized":
        cells = ab if sides is None else _kernel_input(
            ab, 1, sides, id_col, vec_col, [label_col]
        )
        scored = _cell_topk_vectorized(
            cells, id_col, vec_col, 1, [label_col], label_col,
            self_join=sides is None,
        )
    else:
        # the batch miner's probe side is spread: its pair fan-out
        # (|cell|^2 dot folds) must not run in one scan task when the
        # stored side is broadcast (guide §2.5 input under-parallelism)
        probe = _spread_broadcast_probe(ab) if sides is None else ab
        scored = _rank(
            _score_cells(
                probe, 1, [ab] if sides is None else sides, vec_col,
                [F.col(f"a.{id_col}").alias(id_col),
                 F.col(f"a.{label_col}").alias(label_col),
                 F.col("a.cell").alias("cell"),
                 F.col(f"s.{label_col}").alias(f"match_{label_col}"),
                 F.col(f"s.{id_col}").alias("match_id")],
                on=F.col(f"s.{label_col}") != F.col(f"a.{label_col}"),
            ),
            id_col, 1, F.col("cs").desc(),
        )
    return scored.select(
        id_col, label_col, "cell", F.col("match_id").alias("neg_id"),
        F.col(f"match_{label_col}").alias("neg_label"),
        F.round("cs", 6).alias("neg_sim"),
    )


def incremental_ann_new(
    arriving: DataFrame,
    spark,
    group_dir: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    update_index: bool = False,
    append_scope: str = "all",
    compact_after: "int | None" = None,
    n_probe: int = 1,
    kernel: str = "auto",
) -> DataFrame:
    """Arriving-batch SEMANTIC near-dup screen against the persisted
    vector index (SemDeDup's within-cluster rule, Abbas et al. 2023,
    made incremental): assign each arriving vector to its anchor cell,
    join ONLY against stored vectors in the same cell (the bucketed
    inverted list — the index side never crosses an Exchange; the
    ARRIVING batch re-aligns on ``cell`` once per committed index dir,
    which is fine by contract: the batch is the tiny side, and
    ``compact_after=K`` bounds the dir count at K+1, collapsing to one
    after each compaction), and flag vectors whose best same-cell
    similarity reaches ``threshold``.  Returns one verdict row per
    arriving vector:
    (id, cell, is_new, n_prior_hits, best_sim) — the full screen
    ledger, not just survivors.  The original corpus is never re-read:
    the whole seen side is the (id, cell, vector) index parquet.

    Recall contract (by construction, same as SemDeDup): only
    same-cell pairs are compared — a near-dup straddling a cell
    boundary is missed at ``n_probe=1``.  ``n_probe=P`` (r12) screens
    each ARRIVING vector against its top-P cells by anchor cosine (the
    IVF nprobe rule): recall across boundaries rises, candidate pairs
    scale ~P, and the ledger's ``cell`` / any index append still use
    the primary (argmax) cell — stored vectors always live in exactly
    one inverted list, so no pair is ever double-counted.  Cosines
    fold dims in index order (:func:`_sql_anchor_cos`), so every comparison
    here is bit-identical to the DuckDB oracle's (the nprobe gate's
    oracle takes arriving cells at row_number <= P).

    ``update_index=True`` appends the arriving vectors' cell rows as
    the next committed epoch.  ``append_scope`` picks the anchoring
    contract, mirroring ``dedup.incremental_minhash_new`` exactly:
    ``"all"`` (default) stores EVERY arriving vector — including ones
    this call just flagged as near-dups — so a later vector is
    rejected for resembling either a kept representative or a prior
    rejected variant (greedy-ingest transitive rejection);
    ``"survivors"`` stores only vectors this call found NEW
    (``is_new``), so later arrivals are screened only against what was
    actually ingested — the index stays smaller on dup-heavy streams,
    at the cost of re-admitting a drifted variant of a rejected vector
    (r12: the two policies genuinely disagree on drifted-variant
    chains; tests pin a disagreement case).  Maintenance knobs are
    shared: ``compact_after=K`` consolidates + gc's once K epochs
    accumulate past the compaction point — cells-leaf rows are unique
    per vector, so no key-dedupe applies.  A NULL, NULL-element,
    wrong-length or zero arriving vector fails the call with ``invalid
    ANN vector`` before any append (in the assignment checkpoint, or at
    call time on the driver path below).

    Small indexes are screened on the driver
    (:func:`_screen_from_snapshot`) under :func:`index_topk`'s gate:
    with the expr kernel, a batch (not streaming) ``arriving`` of known
    plan-estimated size, and both that estimate and the live index
    files at most the session's ``spark.sql.autoBroadcastJoinThreshold``
    (-1 disables it), the ledger is computed from the cached index
    snapshot with the numpy fold reference and returned as a local
    relation, and the appended cells rows go to the same
    :meth:`Sink.append_bucketed_epoch` as an Arrow table, written as
    bucket files from the driver (and compacted there at
    ``compact_after``) — no assignment plan, no checkpoint, no write
    job (timings in the module docstring).  Rows, doubles, schema (nullability included),
    appended rows and parquet footers are bit-identical to the Spark
    plan's (the tests run every case both ways).  That path reads the
    index and ``arriving`` when ``incremental_ann_new`` is called; the
    Spark plan reads ``arriving`` then (its checkpoint) and the index
    dirs live then when the result is evaluated."""
    from tubes_spark.sink import Sink

    # argument contract first (ADVICE r11) — a guaranteed-invalid call
    # must not pay the eager checkpoint / dir resolution below
    if compact_after is not None and not update_index:
        raise ValueError("compact_after requires update_index=True")
    if append_scope not in ("all", "survivors"):
        raise ValueError(f"unknown append_scope {append_scope!r}")
    if int(n_probe) < 1:
        raise ValueError("n_probe must be >= 1")
    if kernel not in _KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")

    if _is_pq_index(group_dir):
        raise ValueError(
            f"{group_dir} is a PQ-compressed index (no stored vectors); "
            "screens need the full-vector index — serve it with "
            "index_topk_pq instead"
        )
    anchors = _read_anchors(group_dir)
    kernel = _resolve_kernel(kernel, len(anchors))
    # None: no live row file (no payload columns to carry)
    leaf_extra = _leaf_extra_cols(group_dir, id_col, vec_col, default=None)
    # a payload-carrying leaf (r13) makes its columns part of the
    # append contract: every appended epoch must hold the same schema
    extra = (leaf_extra or []) if update_index else []
    missing = [c for c in extra if c not in arriving.columns]
    if missing:
        raise ValueError(
            f"index {group_dir} stores payload columns {extra}; the "
            f"arriving batch is missing {missing} (update_index appends "
            "must carry the leaf's full schema)"
        )
    if kernel == "expr":
        served = _screen_from_snapshot(
            arriving, spark, group_dir, anchors, threshold, int(n_probe),
            id_col, vec_col, leaf_extra or [], extra, update_index,
            append_scope, compact_after,
        )
        if served is not None:
            return served
    # the arriving-side norm is folded ONCE per row and CARRIED through
    # the checkpoint (``__nv__``), so the screen join divides by it
    # instead of re-folding it per CANDIDATE PAIR (|arriving| x cell
    # size; the per-pair fold was ~2/3 of the screen stage's CPU)
    ab = _probe_assign(
        arriving.select(id_col, vec_col, *extra), vec_col, anchors, kernel,
        int(n_probe),
    ).localCheckpoint(eager=True)
    sides = _or_empty(
        _read_index_sides(spark, group_dir), ab.select(id_col, "cell", vec_col)
    )
    hits = (
        _score_cells(ab, int(n_probe), sides, vec_col,
                     [F.col(f"a.{id_col}").alias(id_col)])
        .where(F.col("cs") >= F.lit(float(threshold)))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_prior_hits"),
            F.max("cs").alias("__best__"),
        )
    )
    out = (
        ab.select(id_col, "cell")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "cell",
            F.col("n_prior_hits").isNull().alias("is_new"),
            F.coalesce("n_prior_hits", F.lit(0)).cast("int").alias("n_prior_hits"),
            F.round("__best__", 6).alias("best_sim"),
        )
    )
    if update_index:
        src = ab
        if append_scope == "survivors":
            # only vectors this call found NEW anchor future screens
            src = ab.join(hits.select(id_col), id_col, "left_anti")
        out = Sink.append_bucketed_epoch(  # pins `out` before gc deletes dirs
            src.select(id_col, "cell", vec_col, *extra), group_dir, "cells",
            ["cell"], compact_after=compact_after, pin=out,
        )
    return out


# --------------------------------------------------- hard-negative mining

def mine_hard_negatives(
    df: DataFrame,
    anchors: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    kernel: str = "auto",
) -> DataFrame:
    """Contrastive-training hard-negative mining (r13): for every row,
    the most similar vector with a DIFFERENT ``label_col`` inside its
    anchor-argmax cell — candidates bounded by the cell, never the
    corpus (the all-pairs pass a naive miner would pay).  Misses a
    cross-cell negative by construction: the IVF recall trade the
    nprobe dial tunes.

    ``kernel`` follows the assignment dispatch rule
    (:func:`_resolve_kernel`): at or under the 128-anchor threshold,
    assignment AND pair scoring are the sequential-fold expressions
    both engines compute bit-identically (the per-query norm is
    hoisted before the join so each pair pays ONE dot fold; division
    tree ``d / (nq * nn)``) — the oracle-gated regime.  Above it, both
    go through broadcast-matmul kernels
    (:func:`_assign_cells_vectorized`, then the per-cell blocked
    matmul of :func:`_cell_topk_vectorized` in its self-join mode —
    each row shuffled once), which is the
    100 TB path: the fold pays |dims| interpreted ops per pair, the
    matmul runs at BLAS rates (~100x), and the within-cell pair count
    is what sqrt(N) codebook growth keeps at ~N^1.5/C."""
    k = _resolve_kernel(kernel, len(anchors))
    return _hard_negatives(
        _probe_assign(df, vec_col, anchors, k), None, id_col, vec_col,
        label_col, k,
    )


def cluster_prototypes(
    df: DataFrame,
    anchors: "list[list[float]]",
    m: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "auto",
) -> DataFrame:
    """Per-cluster prototype selection (r13): assign every vector its
    anchor-argmax cell and keep the ``m`` most-central per cell
    (cosine-to-centroid DESC, id ASC) — the balanced-across-semantic-
    space curation draw (cf. cluster-based selection in SemDeDup,
    Abbas et al. 2023).  Output: ``(id_col, cell, rnk, cos_centroid)``
    with the cosine rounded to 6 dp; RANKING uses the unrounded score.

    ``kernel`` follows the assignment dispatch rule: at/under the
    128-anchor threshold, scores are the sequential-fold expressions
    both engines compute bit-identically (the oracle-gated regime —
    the assigned-centroid cosine IS the array_max of the score
    vector); above it, one broadcast-matmul pass emits cell and score
    together (``score_col`` of :func:`_assign_cells_vectorized`).
    Parity at gate SFs is test-pinned; like every matmul path, the
    vectorized scores can sit ~1 ulp off the fold and waive the
    bit-exact contract.

    Scale shape: zero-shuffle assignment, then ONE exchange keyed on
    the cell for the top-m rank with m*C rows out — no all-pairs
    anything; with C ~ sqrt(N) the reducer-side state per cell stays
    ~sqrt(N)."""
    if _resolve_kernel(kernel, len(anchors)) == "vectorized":
        scored = _assign_cells_vectorized(
            df, vec_col, anchors, out_col="cell", score_col="cos_c"
        )
    else:
        vq = f"`{vec_col}`"
        scores_sql = "array(" + ", ".join(
            _sql_anchor_cos(vq, a, "`__nv__`") for a in anchors
        ) + ")"
        scored = (
            df.withColumn("__nv__", F.expr(_sql_norm(vq)))
            .withColumn("__s__", F.expr(scores_sql))
            .withColumn(
                "cell",
                (
                    F.array_position(F.col("__s__"), F.array_max(F.col("__s__")))
                    - 1
                ).cast("int"),
            )
            # the cosine to the assigned (argmax) centroid IS the max
            .withColumn("cos_c", F.array_max(F.col("__s__")))
        )
    w = Window.partitionBy("cell").orderBy(
        F.col("cos_c").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(m))
        .select(
            id_col, "cell", F.col("rnk").cast("int").alias("rnk"),
            F.round("cos_c", 6).alias("cos_centroid"),
        )
    )


def index_hard_negatives(
    arriving: DataFrame,
    spark,
    group_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    kernel: str = "auto",
) -> DataFrame:
    """Hard-negative mining AGAINST the persisted vector index (r13):
    for every arriving vector, the most similar STORED vector with a
    different ``label_col`` in its anchor cell — the index-resident
    form of :func:`mine_hard_negatives`.  The index must have been
    written with ``payload_cols=[label_col]`` (labels live in the
    ``cells`` leaf), so mining never re-reads or re-embeds the
    original corpus — the same no-corpus-re-read contract as the
    semantic screen, and the claim the batch miner's docstring prices:
    the stored side is a bucketed FileScan with ZERO index-side
    Exchange (plan-pinned in tests).

    ``kernel`` follows the assignment dispatch rule: at/under the
    128-anchor threshold assignment and pair scoring are the
    sequential-fold forms under the DuckDB value-hash gate (norms
    hoisted on BOTH sides — one fold per row per side, one dot fold
    per pair); above it, matmul assignment + the per-cell blocked
    matmul of :func:`_cell_topk_vectorized`.

    Scale shape: arriving re-aligns on ``cell`` once (the tiny side);
    stored inverted lists are read in place per live epoch dir
    (``compact_after`` on the maintenance path bounds the dir count);
    within-cell candidates are STORED-side only, so the pair count is
    |arriving| * n_c — the sqrt(N) codebook rule keeps n_c flat."""
    if kernel not in _KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")
    anchors = _read_anchors(group_dir)
    kernel = _resolve_kernel(kernel, len(anchors))
    if label_col not in arriving.columns:
        raise ValueError(f"arriving batch is missing {label_col!r}")
    # None: no live row file, so nothing to mine against (empty result)
    extra = _leaf_extra_cols(group_dir, id_col, vec_col, default=None)
    if extra is not None and label_col not in extra:
        raise ValueError(
            f"index {group_dir} does not store {label_col!r} (leaf payload: "
            f"{extra}); write it with payload_cols=[{label_col!r}] to mine "
            "against the index"
        )
    ab = _probe_assign(
        arriving.select(id_col, vec_col, label_col), vec_col, anchors, kernel
    )
    sides = _or_empty(
        _read_index_sides(spark, group_dir),
        ab.select(id_col, "cell", vec_col, label_col),
    )
    return _hard_negatives(ab, sides, id_col, vec_col, label_col, kernel)


# ----------------------------------- driver-resident serving of small indexes
#
# index_topk's Spark plan costs ~5 jobs and ~1,100 py4j round trips of
# planning per call, and the incremental screen's ~8 jobs — most of a
# call at the few-hundred-row batches of a serving or ingest loop, and
# still the slower path at the gate's bound (module docstring).  Under
# the gate in :func:`_snapshot_stage` both are answered from a cached
# snapshot of the live ``cells`` rows with the expression kernel's exact
# arithmetic (the numpy fold reference): :func:`_serve_from_snapshot`
# ranks the candidates, :func:`_screen_from_snapshot` counts the hits.

class _IndexSnapshot:
    """The live ``cells`` rows of one index, tombstoned ids excluded,
    sorted by (cell, id): rows of cell ``c`` are
    ``offsets[c]:offsets[c + 1]``.  Vectors are stored dim-major
    (``vecs_t`` is dims x rows), so a cell's block folds over
    contiguous rows."""

    __slots__ = ("ids", "id_rank", "offsets", "vecs_t", "valid", "norms",
                 "payload", "nbytes")

    def __init__(self, tbl, id_col: str, vec_col: str, n_cells: int,
                 vecs: np.ndarray, valid: np.ndarray):
        import pyarrow.compute as pc

        self.ids = tbl.column(id_col).combine_chunks()
        self.id_rank = pc.rank(
            self.ids, sort_keys="ascending", null_placement="at_start",
            tiebreaker="dense",
        ).to_numpy()
        cells = tbl.column("cell").to_numpy()
        self.offsets = np.searchsorted(cells, np.arange(n_cells + 1))
        self.vecs_t, self.valid = np.ascontiguousarray(vecs.T), valid
        self.norms = _np_norm(self.vecs_t, axis=0)
        self.payload = tbl.drop_columns([id_col, "cell", vec_col]).combine_chunks()
        self.nbytes = (
            self.vecs_t.nbytes + self.norms.nbytes + self.id_rank.nbytes
            + self.ids.nbytes + self.payload.nbytes
        )


def _simple_arrow_type(t) -> bool:
    """Numbers, booleans, strings, binaries and lists of them — payload
    types that round-trip through ``createDataFrame`` unchanged."""
    import pyarrow.types as pt

    if pt.is_list(t) or pt.is_large_list(t):
        t = t.value_type
    return (
        pt.is_integer(t) or pt.is_floating(t) or pt.is_boolean(t)
        or pt.is_string(t) or pt.is_large_string(t)
        or pt.is_binary(t) or pt.is_large_binary(t)
    )


def _vector_matrix(col, dim: int):
    """(rows x dim float64 matrix, valid, wrong_length) of an Arrow list
    column: ``valid`` rows are non-null, of length ``dim``, with no null
    element (every other row's cosines are NULL in Spark); a non-null
    row of another length is flagged in ``wrong_length``.  None when the
    column is not a list of numbers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    t = col.type
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)) or not (
        pa.types.is_floating(t.value_type) or pa.types.is_integer(t.value_type)
    ):
        return None
    lens = pc.fill_null(pc.list_value_length(col), -1).to_numpy()
    valid = lens == dim
    m = np.zeros((len(col), dim))
    rows = np.flatnonzero(valid)
    if len(rows):
        vals = pc.list_flatten(col.filter(pa.array(valid)))
        has_null = (
            vals.is_null().to_numpy(zero_copy_only=False)
            .reshape(-1, dim).any(axis=1)
        )
        m[rows] = (
            pc.fill_null(vals, 0).to_numpy(zero_copy_only=False)
            .astype(np.float64).reshape(-1, dim)
        )
        valid[rows[has_null]] = False
    return m, valid, (lens >= 0) & (lens != dim)


def _load_snapshot(files, tomb_files, id_col, vec_col, extra, anchors):
    """Read the live part files with pyarrow (no Spark job) into an
    :class:`_IndexSnapshot`, or None when the rows hold something this
    path does not reproduce exactly (non-integer ids, payload types
    outside :func:`_simple_arrow_type`, stored vectors of another
    length, anchors Spark would refuse) — such an index is served by
    the Spark plan.  No live part file loads as an empty snapshot."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dim = len(anchors[0]) if anchors else 0
    if dim == 0 or any(len(a) != dim for a in anchors) or not np.isfinite(
        np.asarray(anchors, dtype=np.float64)
    ).all():
        return None
    cols = [id_col, "cell", vec_col, *extra]
    try:
        tbl = pa.concat_tables(
            [pq.ParquetFile(p).read(columns=cols) for p, _, _ in files]
            or [pa.table({id_col: pa.array([], pa.int64()),
                          "cell": pa.array([], pa.int32()),
                          vec_col: pa.array([], pa.list_(pa.float64()))})]
        )
    except (KeyError, ValueError):  # a missing column, diverging footers
        return None
    ids_t = tbl.schema.field(id_col).type
    if not pa.types.is_integer(ids_t) or not all(
        _simple_arrow_type(tbl.schema.field(c).type) for c in extra
    ):
        return None
    if tomb_files:
        tombs = pa.concat_tables(
            [pq.ParquetFile(p).read() for p, _, _ in tomb_files]
        )
        if tombs.column_names[0] != id_col:
            return None
        doomed = pc.is_in(
            tbl.column(id_col), value_set=tombs.column(0).cast(ids_t),
            skip_nulls=True,
        )
        tbl = tbl.filter(pc.invert(doomed))
    cells = tbl.column("cell")  # only anchor ids join a probe cell
    tbl = tbl.filter(pc.and_(
        pc.greater_equal(cells, 0), pc.less(cells, len(anchors))
    ))
    tbl = tbl.sort_by([("cell", "ascending"), (id_col, "ascending")])
    mat = _vector_matrix(tbl.column(vec_col), dim)
    if mat is None or mat[2].any():
        return None
    return _IndexSnapshot(tbl, id_col, vec_col, len(anchors), mat[0], mat[1])


def _index_snapshot(group_dir, id_col, vec_col, extra, anchors, limit):
    """The cached snapshot of the index (:meth:`Sink.leaf_snapshot`),
    reloaded whenever any live part file, tombstone file or the anchor
    record changes, so every append, compaction, delete, purge or
    rebuild at the same path is seen by the next call.  None when the
    live files exceed ``limit`` bytes or the rows are not servable
    here."""
    import os

    from tubes_spark.sink import Sink

    spec = Sink._bucket_spec(group_dir)
    if spec is None:  # not an index this version reads (the plan raises)
        return None
    tombs = [f for d in _tombstone_dirs(group_dir) for f in Sink.part_files(d)]
    try:
        st = os.stat(f"{group_dir}/_anchors.parquet")
    except FileNotFoundError:  # served from a staged record (read-only mount)
        return None
    return Sink.leaf_snapshot(
        group_dir, spec["leaf"], (id_col, vec_col),
        lambda files: _load_snapshot(files, tombs, id_col, vec_col, extra,
                                     anchors),
        limit, also=(tuple(tombs), (st.st_size, st.st_mtime_ns)),
    )


def _desc_keys(cs: np.ndarray, null: np.ndarray):
    """Sort keys (class, value) putting ``cs`` in Spark's DESC NULLS
    LAST order under ascending sorts: NaN first (Spark orders NaN above
    every number), then numbers descending (-0.0 equal to 0.0), then
    NULL."""
    cls = np.where(null, 2, np.where(np.isnan(cs), 0, 1))
    return cls, np.where(cls == 1, -cs, 0.0)


def _snapshot_stage(
    arriving: DataFrame, spark, group_dir: str, anchors, n_probe: int,
    id_col: str, vec_col: str, extra: "list[str]", cols: "list[str]",
):
    """The driver-side stage both snapshot readers share, or None when
    the gate sends the call to the Spark plan.

    Gate (callers: expr kernel; :func:`index_topk` also no
    ``stored_filter``): a batch ``arriving`` with integer ids whose
    plan-estimated size is known, a vector column typed as an array of
    integers or floats, ``cols`` of :func:`_simple_arrow_type` types,
    anchors of nonzero norm, and both that estimate and the live index
    files at most ``spark.sql.autoBroadcastJoinThreshold`` bytes (-1
    disables this path) — all decided before ``arriving`` is read, so a
    refused call reads it only in the Spark plan; only a zero divisor
    found in the data hands a call over after the read.  ``extra`` is
    the leaf's payload (the snapshot is cached per index, so every
    caller loads the same columns).

    Returns (``side``: the Spark schema of ``arriving``'s id, vector
    and ``cols``; ``q``: those columns read now with ``toArrow``; the
    snapshot; ``probes``: rows x probed cells, primary first; a
    generator of (query rows, first stored row, cosines, NULL mask) per
    chunk of the query rows probing one cell, which yields None where
    Spark would raise).  A bad query vector raises now with
    :func:`_probe_assign`'s ``invalid ANN vector`` message.  Probe cells
    follow :func:`_sql_cell_expr` / :func:`_sql_probe_cells` (numpy's
    argmax puts the first NaN first, as Spark's array_max does) and
    every double is the Spark plan's ``d / (nv * ns)`` through the numpy
    fold reference.  A stored row the Spark plan scores NULL
    (NULL/malformed vector, zero divisor) is NULL here — except that
    under ANSI, where a zero divisor raises, the generator yields None
    so the caller hands the call to the Spark plan to raise it."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        ArrayType, ByteType, DoubleType, FloatType, IntegerType, LongType,
        ShortType,
    )

    from tubes_spark.sink import Sink

    if arriving.isStreaming:
        return None
    limit = Sink.broadcast_threshold(spark)
    if limit < 0:
        return None
    side = arriving.select(id_col, vec_col, *cols)
    ints = (ByteType, ShortType, IntegerType, LongType)
    vec_t = side.schema[vec_col].dataType
    if not isinstance(side.schema[id_col].dataType, ints) or not (
        isinstance(vec_t, ArrayType)
        and isinstance(vec_t.elementType, (*ints, FloatType, DoubleType))
    ) or not all(
        _simple_arrow_type(to_arrow_type(side.schema[c].dataType)) for c in cols
    ):
        return None
    # a zero-norm anchor's NULL or raising cosine is left to the Spark plan
    if any(_anchor_norm(a) == 0 for a in anchors):
        return None
    est = Sink.plan_bytes(side)
    if est is None or est > limit:
        return None
    snap = _index_snapshot(group_dir, id_col, vec_col, extra, anchors, limit)
    if snap is None:
        return None
    q = side.toArrow()
    dim = len(anchors[0])
    qv, qvalid, _ = _vector_matrix(q.column(vec_col), dim)
    nv = _np_norm(qv)
    if not (qvalid & (nv != 0)).all():  # :func:`_probe_assign`'s guard
        raise ValueError(_bad_vector_msg(vec_col, dim))
    scores, div = _np_anchor_scores(qv, nv, anchors)
    if (div == 0).any():  # nv * na underflowed: the Spark plan decides
        return None
    probes = (
        scores.argmax(axis=1)[:, None] if n_probe == 1
        else _np_probe_cells(scores, np.zeros(scores.shape, bool), n_probe)
    )

    def blocks():
        # per probed cell: cosines of the queries probing it against its
        # rows (dims x queries x rows products folded over dims), in
        # chunks bounded to ~2M products
        prow = np.repeat(np.arange(len(qv)), probes.shape[1])
        pcell = probes.ravel()
        for c in np.unique(pcell):
            a, b = snap.offsets[c], snap.offsets[c + 1]
            probing = prow[pcell == c]
            step = max(1, (1 << 21) // max(1, (b - a) * dim))
            for i in range(0, len(probing) if b > a else 0, step):
                qr = probing[i:i + step]
                div = nv[qr][:, None] * snap.norms[None, a:b]
                with np.errstate(all="ignore"):
                    cs = _fold_sum(
                        qv[qr].T[:, :, None] * snap.vecs_t[:, None, a:b], 0
                    ) / div
                ok = np.broadcast_to(snap.valid[None, a:b], div.shape)
                zero = ok & (div == 0)
                if zero.any() and spark.conf.get("spark.sql.ansi.enabled") == "true":
                    yield None
                    return
                yield qr, a, cs, ~ok | zero

    return side.schema, q, snap, probes, blocks()


def _serve_from_snapshot(
    arriving: DataFrame, spark, group_dir: str, anchors, k: int,
    n_probe: int, id_col: str, vec_col: str, extra: "list[str]",
) -> "DataFrame | None":
    """:func:`index_topk`'s expression-kernel answer computed on the
    driver (:func:`_snapshot_stage`), or None for the Spark plan.

    Each query row keeps its local top ``k`` per probed cell; all
    candidates of one query id (duplicate ids included) then rank
    together on (cs DESC, match_id ASC) under Spark's double ordering,
    as the Window does.  The result is a local relation; ``F.round`` is
    Spark's (HALF_UP)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    stage = _snapshot_stage(
        arriving, spark, group_dir, anchors, n_probe, id_col, vec_col, extra, []
    )
    if stage is None:
        return None
    side, q, snap, _, blocks = stage
    cand = []
    for blk in blocks:
        if blk is None:
            return None
        qr, a, cs, null = blk
        cls, val = _desc_keys(cs, null)
        ids = np.broadcast_to(snap.id_rank[a:a + cs.shape[1]], cs.shape)
        top = np.lexsort((ids, val, cls), axis=-1)[:, :int(k)]
        at = np.arange(len(qr))[:, None]
        cand.append((np.repeat(qr, top.shape[1]), (a + top).ravel(),
                     cs[at, top].ravel(), null[at, top].ravel()))
    if cand:
        qrow, srow, cs, c_null = (np.concatenate(x) for x in zip(*cand))
    else:
        qrow = srow = np.zeros(0, np.int64)
        cs, c_null = np.zeros(0), np.zeros(0, bool)
    # one rank per query id over the candidates, as the Window ranks
    qid = q.column(id_col).combine_chunks()
    qnull = qid.is_null().to_numpy(zero_copy_only=False)
    _, group = np.unique(
        np.stack([qnull.astype(np.int64), qid.fill_null(0).to_numpy()], axis=1),
        axis=0, return_inverse=True,
    )
    g = group.reshape(-1)[qrow]
    cls, val = _desc_keys(cs, c_null)
    order = np.lexsort((snap.id_rank[srow], val, cls, g))
    gs = g[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = gs[1:] != gs[:-1]
    pos = np.arange(len(order))
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    keep = rank <= int(k)
    pick, rank = order[keep], rank[keep]
    qi, si = pa.array(qrow[pick]), pa.array(srow[pick])
    mcols = [f"match_{c}" for c in extra]
    out = pa.table(
        [qid.take(qi), pa.array(rank, pa.int32()), snap.ids.take(si)]
        + [snap.payload.column(c).take(si) for c in extra]
        + [pa.array(cs[pick], mask=c_null[pick])],
        names=[id_col, "rank", "match_id", *mcols, "cs"],
    )
    schema = StructType(
        [side[id_col],
         StructField("rank", IntegerType(), False),
         StructField("match_id", from_arrow_type(snap.ids.type), True)]
        + [StructField(m, from_arrow_type(snap.payload.schema.field(c).type), True)
           for m, c in zip(mcols, extra)]
        + [StructField("cs", DoubleType(), True)]
    )
    return spark.createDataFrame(out, schema).select(
        id_col, "rank", "match_id", *mcols, F.round("cs", 6).alias("match_sim")
    )


def _screen_from_snapshot(
    arriving: DataFrame, spark, group_dir: str, anchors, threshold: float,
    n_probe: int, id_col: str, vec_col: str, leaf_extra: "list[str]",
    extra: "list[str]", update_index: bool, append_scope: str,
    compact_after: "int | None",
) -> "DataFrame | None":
    """:func:`incremental_ann_new`'s expression-kernel verdict ledger
    computed on the driver (:func:`_snapshot_stage`), or None for the
    Spark plan.

    Spark's semantics, reproduced: a pair is a hit when ``cs >=
    threshold`` (NaN compares above every number, so a NaN cosine is a
    hit; a NULL one never is); hits are counted and maxed (NaN first)
    per id over every row and probe cell of that id, so duplicate ids
    share one count and best score, as ``groupBy(id)`` joined back does;
    a NULL id never joins its hits, so it is new.  The ledger and the
    appended cells rows ``(id, cell, vec, *extra)`` — every row, or the
    new ones under ``append_scope="survivors"``, each at its primary
    (first-probe) cell — are Arrow tables: the ledger goes out as a local
    relation, and the appended rows go to
    :meth:`Sink.append_bucketed_epoch` as they are, written from the
    driver with nothing to pin."""
    import pyarrow as pa
    from pyspark.sql.types import (
        BooleanType, DoubleType, IntegerType, StructField, StructType,
    )

    from tubes_spark.sink import Sink

    stage = _snapshot_stage(
        arriving, spark, group_dir, anchors, n_probe, id_col, vec_col,
        leaf_extra, extra,
    )
    if stage is None:
        return None
    side, q, _, probes, blocks = stage
    n = q.num_rows
    # per row: its hit count and best hit cosine — the highest number,
    # or the first NaN hit itself (its bits: Spark's max keeps the NaN
    # it met first and F.round passes NaN through)
    hits = np.zeros(n, np.int64)
    best = np.full(n, -np.inf)
    for blk in blocks:
        if blk is None:
            return None
        qr, _, cs, null = blk
        nan = np.isnan(cs)
        hit = ~null & (nan | (cs >= float(threshold)))
        hits[qr] += hit.sum(axis=1)  # a row probes a cell once: qr is unique
        top = np.where(hit & ~nan, cs, -np.inf).max(axis=1)
        first_nan = cs[np.arange(len(qr)), (hit & nan).argmax(axis=1)]
        cur = best[qr]
        best[qr] = np.where(
            np.isnan(cur), cur,
            np.where((hit & nan).any(axis=1), first_nan, np.maximum(cur, top)),
        )
    # groupBy(id) over the hits, joined back on id (NULL ids never join)
    qid = q.column(id_col).combine_chunks()
    has_id = ~qid.is_null().to_numpy(zero_copy_only=False)
    _, group = np.unique(qid.fill_null(0).to_numpy(), return_inverse=True)
    g_hits = np.zeros(n, np.int64)
    np.add.at(g_hits, group[has_id], hits[has_id])
    num = has_id & ~np.isnan(best)
    g_best = np.full(n, -np.inf)
    np.maximum.at(g_best, group[num], best[num])
    nan_rows = np.flatnonzero(has_id & np.isnan(best))
    nan_groups, first = np.unique(group[nan_rows], return_index=True)
    g_best[nan_groups] = best[nan_rows[first]]
    n_hits = np.where(has_id, g_hits[group], 0)
    is_new = n_hits == 0
    ledger = pa.table(
        [qid, pa.array(probes[:, 0], pa.int32()), pa.array(is_new),
         pa.array(n_hits, pa.int32()), pa.array(g_best[group], mask=is_new)],
        names=[id_col, "cell", "is_new", "n_prior_hits", "__best__"],
    )
    cell = StructField("cell", IntegerType(), True)  # nullable, as in Spark
    out = spark.createDataFrame(ledger, StructType([
        side[id_col], cell, StructField("is_new", BooleanType(), False),
        StructField("n_prior_hits", IntegerType(), False),
        StructField("__best__", DoubleType(), True),
    ])).select(id_col, "cell", "is_new", "n_prior_hits",
               F.round("__best__", 6).alias("best_sim"))
    if update_index:
        keep = is_new if append_scope == "survivors" else np.ones(n, bool)
        rows = q.filter(pa.array(keep))
        appended = pa.table(
            [rows.column(id_col).combine_chunks(),
             pa.array(probes[keep, 0], pa.int32())]
            + [rows.column(c).combine_chunks() for c in (vec_col, *extra)],
            names=[id_col, "cell", vec_col, *extra],
        )
        Sink.append_bucketed_epoch(
            (appended, StructType(
                [side[id_col], cell, side[vec_col], *[side[c] for c in extra]]
            )),
            group_dir, "cells", ["cell"], compact_after=compact_after,
            spark=spark,
        )
    return out


def index_topk(
    arriving: DataFrame,
    spark,
    group_dir: str,
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stored_filter: "Column | str | None" = None,
    kernel: str = "auto",
) -> DataFrame:
    """Top-k similarity SEARCH against the persisted vector index —
    the serving path of the anchor lifecycle: assign each query vector
    to its ``n_probe`` nearest anchor cells, scan ONLY those inverted
    lists (bucketed FileScan, zero index-side Exchange — same plan pin
    as the screen), rank stored candidates by cosine, keep the global
    top ``k`` per query with the deterministic (cosine DESC, match_id
    ASC) tiebreak.  Complements the per-call batch tiers
    (:func:`knn_ivf`, :func:`knn_pq_adc` …): those rebuild their
    structure every invocation; this one reads a structure that was
    built once and maintained incrementally.

    ``stored_filter`` (a ``Column`` or SQL string over the leaf's
    columns, e.g. ``"label = 2"``) is METADATA-FILTERED retrieval: the
    predicate lands on the stored scan BEFORE ranking (plain parquet
    pushdown), so a filtered query still returns k true matches rather
    than post-filtering the unfiltered top-k down to a remnant.
    Payload columns come back as ``match_<col>``.

    ``kernel`` follows the assignment dispatch rule (128-anchor
    threshold): the fold forms under the DuckDB value-hash gate; above
    it, matmul assignment + the per-cell blocked matmul of
    :func:`_cell_topk_vectorized`, whose local-top-k bounds the
    global merge at ``n_probe * k`` candidate rows per query.

    A query vector that is NULL, holds a NULL element, has another
    length than the anchors or has a zero norm fails the call with
    ``invalid ANN vector`` (:func:`_probe_assign`) on either path.

    Scale shape: pairs scanned = |queries| * n_probe * n_c, with n_c
    held flat by the sqrt(N) codebook rule; the recall dial is
    ``n_probe`` exactly as in the screen (`ann_nprobe_boundary_recall`
    measures the boundary-pair payoff).

    Small indexes are served directly (:func:`_serve_from_snapshot`):
    with the expr kernel, no ``stored_filter``, a batch (not streaming)
    ``arriving`` of known plan-estimated size, and both that estimate
    and the live index files at most the session's
    ``spark.sql.autoBroadcastJoinThreshold``, the answer is computed on
    the driver from a cached snapshot of the index, keyed on the
    identity of every live file, and returned as a local relation.
    Rows, doubles and schema are bit-identical to the Spark plan's (the
    tests run every case both ways).  That path reads the index and
    ``arriving`` when ``index_topk`` is called; the Spark plan — every
    other call — reads them when the result is evaluated."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    if int(n_probe) < 1:
        raise ValueError("n_probe must be >= 1")
    if kernel not in _KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")
    if _is_pq_index(group_dir):
        raise ValueError(
            f"{group_dir} is a PQ-compressed index (no stored vectors); "
            "serve it with index_topk_pq"
        )
    anchors = _read_anchors(group_dir)
    kernel = _resolve_kernel(kernel, len(anchors))
    # None: no live row file (an empty result, and no payload columns)
    extra = _leaf_extra_cols(group_dir, id_col, vec_col, default=None)
    if kernel == "expr" and stored_filter is None and extra is not None:
        served = _serve_from_snapshot(
            arriving, spark, group_dir, anchors, k, n_probe, id_col, vec_col,
            extra,
        )
        if served is not None:
            return served
    extra = extra or []
    ab = _probe_assign(
        _spread_broadcast_probe(arriving.select(id_col, vec_col)),
        vec_col, anchors, kernel, int(n_probe),
    )
    sides = _read_index_sides(spark, group_dir)
    if stored_filter is not None:
        pred = (
            F.expr(stored_filter) if isinstance(stored_filter, str)
            else stored_filter
        )
        sides = [s.filter(pred) for s in sides]
    sides = _or_empty(sides, ab.select(id_col, "cell", vec_col))
    mcols = [f"match_{c}" for c in extra]
    if kernel == "vectorized":
        scored = _cell_topk_vectorized(
            _kernel_input(ab, int(n_probe), sides, id_col, vec_col, extra),
            id_col, vec_col, int(k), extra,
        )
    else:
        scored = _score_cells(
            ab, int(n_probe), sides, vec_col,
            [F.col(f"a.{id_col}").alias(id_col),
             *[F.col(f"s.{c}").alias(m) for c, m in zip(extra, mcols)],
             F.col(f"s.{id_col}").alias("match_id")],
        )
    return _rank(scored, id_col, k, F.col("cs").desc()).select(
        id_col, F.col("rank").cast("int").alias("rank"), "match_id",
        *mcols, F.round("cs", 6).alias("match_sim"),
    )


def ann_index_stats(
    spark,
    group_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted-list statistics of the persisted index, read from the
    index's own ``cells`` leaf (never the corpus): one row per anchor
    cell with the list size and the id range it spans.  The operator's
    job is retrain/skew observability — the sqrt(N) codebook rule is a
    TARGET, and the way an operator notices a fat cell (hub vectors, a
    drifted corpus) or a dead codebook region is exactly this
    histogram; `rebuild_ann_index` is the remedy it motivates.

    Scale shape: a bucketed FileScan per live dir + one partial agg on
    the bucket key — no join, no corpus read; cost ~ |index| / cells
    per task regardless of corpus size."""
    import functools

    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    sides = _read_index_sides(spark, group_dir)
    frames = [s.select("cell", id_col) for s in sides]
    if not frames:
        return spark.createDataFrame([], StructType([
            StructField("cell", IntegerType()),
            StructField("n_vectors", LongType()),
            StructField("min_id", LongType()),
            StructField("max_id", LongType()),
        ]))
    stored = functools.reduce(DataFrame.unionByName, frames)
    return (
        stored.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
    )


# --------------------------------------------------- index deletes

def _tombstone_dirs(group_dir: str) -> "list[str]":
    """Published tombstone batches of the index.  Publish protocol:
    each delete writes its ids under a run-unique
    ``_tombstones/.tmp.ts-*`` directory and renames to ``ts-*`` last,
    so a half-written batch is never visible."""
    import glob

    from tubes_spark.sink import Sink

    return [
        d for d in sorted(glob.glob(f"{group_dir}/_tombstones/ts-*"))
        if Sink._has_parquet(d)
    ]


def _read_tombstones(spark, group_dir: str):
    """Published tombstones unioned and deduped — a single-id-column
    DataFrame, or None when no tombstones exist."""
    dirs = _tombstone_dirs(group_dir)
    return spark.read.parquet(*dirs).distinct() if dirs else None


def delete_from_ann_index(
    spark,
    group_dir: str,
    ids: "list | None" = None,
    predicate: "str | None" = None,
    id_col: str = "vec_id",
) -> int:
    """LOGICAL delete from the persisted vector index (tombstones) —
    the right-to-be-forgotten path: the doomed ids land in a small
    ``_tombstones`` batch (atomic rename publish) and from that moment
    every reader — screen, mining, top-k, stats, rebuild — excludes
    them via a broadcast anti-join (no index-side Exchange; the
    tombstone side is tiny and broadcast).  Data is only PHYSICALLY
    gone after :func:`purge_ann_tombstones`, which rewrites the leaf
    without the doomed rows and clears the applied batches — the same
    logical-now/physical-later split Delta/Iceberg use, because at
    100 TB an eager rewrite per deletion request is not a plan.

    Pass ``ids`` (an explicit list) or ``predicate`` (a SQL boolean
    over the leaf's columns — id, cell, vector, payload), exactly one.
    Returns the number of ids tombstoned in this batch.  Deleting an
    id not in the index is a no-op by construction (anti-join).

    Semantics caveat (standard tombstone-by-key, as in log
    compaction): the tombstone hides EVERY stored row with that id —
    including rows appended after the delete — until a purge applies
    and clears the batch.  Re-ingesting a deleted id as a new fact
    belongs after the purge."""
    import os
    import uuid

    from pyspark.sql.types import StructField, StructType

    if (ids is None) == (predicate is None):
        raise ValueError("pass exactly one of ids= or predicate=")
    sides = _read_index_sides(spark, group_dir)
    if not sides:
        return 0  # nothing stored, nothing to forget
    import functools

    if predicate is not None:
        stored = functools.reduce(
            DataFrame.unionByName,
            [s.drop("epoch") if "epoch" in s.columns else s for s in sides],
        )
        # pin: the count below and the tombstone write share one scan,
        # and a concurrent append cannot split the two views
        doomed = (
            stored.filter(F.expr(predicate)).select(id_col).distinct()
            .localCheckpoint(eager=True)
        )
    else:
        idt = sides[0].schema[id_col].dataType
        doomed = spark.createDataFrame(
            [(i,) for i in ids], StructType([StructField(id_col, idt)])
        ).distinct()
    n = doomed.count()
    if n == 0:
        return 0
    ts_dir = f"{group_dir}/_tombstones"
    os.makedirs(ts_dir, exist_ok=True)
    name = f"ts-{uuid.uuid4().hex[:8]}"
    tmp = f"{ts_dir}/.tmp.{name}"
    doomed.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.replace(tmp, f"{ts_dir}/{name}")  # publish point
    return int(n)


def purge_ann_tombstones(
    spark,
    group_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """PHYSICAL scrub of tombstoned rows: rewrite the live leaf minus
    every published tombstone through the group's one
    consolidate-and-publish path (:meth:`Sink._consolidate` — bucket
    layout kept, ``_compacted`` marker renamed last, superseded dirs
    gc'd), then clear the applied tombstone batches.  A crash at any
    point leaves either the pre-purge view (tombstones still
    anti-joined at read) or the post-purge one; re-running finishes the
    job — the purge is idempotent over the same tombstone set.
    Compliance note: ids are physically gone only when this returns;
    epoch lineage of surviving rows is preserved (the compact part
    keeps the ``epoch`` column), so as-of reads of survivors still
    work while purged ids are gone from ALL history — the GDPR
    requirement that wins over time travel.

    Returns the number of rows physically removed.  Scale shape: one
    bucketed scan + one bucketed write of the live index (the same
    cost class as compaction — amortize by batching deletion requests
    into one purge), tombstones broadcast."""
    import functools
    import shutil

    from tubes_spark.sink import Sink

    # snapshot FIRST: batches published after this survive the purge
    ts_files = _tombstone_dirs(group_dir)
    if not ts_files:
        return 0
    frames = Sink.read_bucketed_leaf(spark, group_dir)
    tombs = F.broadcast(spark.read.parquet(*ts_files).distinct())
    key = tombs.columns[0]
    removed = 0
    if frames:
        removed = (
            functools.reduce(DataFrame.union, [f.select(key) for f in frames])
            .join(tombs, key, "left_semi")
            .count()
        )
        Sink._consolidate(
            spark, group_dir, ".purge",
            lambda _leaf, df: df.join(tombs, key, "left_anti"), gc=True,
        )
    for d in ts_files:  # applied — physically done, clear the batches
        shutil.rmtree(d, ignore_errors=True)
    return int(removed)


# --------------------------------------------------- persisted PQ index

def _is_pq_index(group_dir: str) -> bool:
    """True when the group is a PQ-compressed index — published
    ``_pq.parquet`` OR a staged ``.tmp._pq.parquet`` (the
    crashed-mid-publish window ``_read_pq_codebooks`` recovers), so
    full-vector ops refuse with a clear error in that window too."""
    import os

    return os.path.exists(f"{group_dir}/_pq.parquet") or os.path.exists(
        f"{group_dir}/.tmp._pq.parquet"
    )


def _read_pq_codebooks(group_dir: str) -> np.ndarray:
    """Published PQ codebooks as (m, k, sub) float64 (staged-publish
    recovery shared with the anchors — :func:`_read_published_table`)."""
    t = _read_published_table(
        group_dir, "_pq.parquet",
        f"PQ index {group_dir} has committed epochs but no codebook "
        "record (neither published nor staged) — the index is "
        "unreadable; rebuild it from the corpus",
    )
    js = t["j"].to_pylist()
    cs = t["c"].to_pylist()
    vals = t["vals"].to_pylist()
    m = max(js) + 1
    k = max(cs) + 1
    sub = len(vals[0])
    books = np.zeros((m, k, sub))
    for j, c, v in zip(js, cs, vals):
        books[j, c] = v
    return books


def write_pq_ann_index(
    batch: DataFrame,
    group_dir: str,
    n_anchors: int = 16,
    m: int = 8,
    n_codes: int = 16,
    epoch: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: "int | None" = None,
    anchors: "list[list[float]] | None" = None,
    kernel: str = "auto",
    sample_cap: int = 4096,
    seed: int = 11,
) -> None:
    """Bootstrap (or extend) a PQ-COMPRESSED persisted vector index:
    the same atomic bucketed group as :func:`write_ann_index`, but the
    ``cells`` leaf stores (id, cell, pq_code) — ``m`` bytes of code
    per vector instead of the full float vector.  At dim=64 float32
    that is a 32x smaller index: the difference between an index that
    fits hot storage at 10^11 vectors and one that does not (Jegou et
    al. 2011, the IVFADC layout).  Anchors (IVF cells) AND the PQ
    codebooks are trained at bootstrap and published together after
    the bootstrap epoch commits (the anchors' crash discipline covers
    both); extend epochs encode with the STORED codebooks, so codes
    stay comparable for the index's lifetime.

    The trade against :func:`write_ann_index`: no stored vectors means
    serving is approximate-only (:func:`index_topk_pq`; no exact
    rerank without the corpus), screens/mining don't apply, and a
    rebuild must re-read the corpus.  Store the full-vector index when
    you can afford it; store this when you cannot.

    Scale shape: assignment + encoding are one Arrow pass (broadcast
    anchors + codebooks, no shuffle); the bucketed write is the only
    Exchange, and the leaf it writes is ~m bytes/row."""
    if kernel not in _KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")
    cell_anchors, established = _seed_anchors(
        batch, group_dir, anchors, n_anchors, id_col, vec_col
    )
    if established:
        books = _read_pq_codebooks(group_dir)
    else:
        dim = len(cell_anchors[0])
        books = pq_train(batch, dim, m, n_codes, vec_col, sample_cap, seed)
        # (m, k, sub) float64 flattened to one row per (subspace, centroid)
        mk = [(j, c) for j in range(books.shape[0]) for c in range(books.shape[1])]
        _stage_table(group_dir, "_pq.parquet", {
            "j": [j for j, _ in mk], "c": [c for _, c in mk],
            "vals": [[float(x) for x in books[j, c]] for j, c in mk],
        })
    cells = _probe_assign(
        batch.select(id_col, vec_col), vec_col, cell_anchors,
        _resolve_kernel(kernel, len(cell_anchors)),
    )
    leaf = pq_encode(cells, books, id_col, vec_col, keep_cols=["cell"]).select(
        id_col, "cell", "pq_code"
    )
    _commit_index_epoch(
        leaf, batch, group_dir, n_buckets, epoch, ["_anchors.parquet", "_pq.parquet"]
    )


def index_topk_pq(
    arriving: DataFrame,
    spark,
    group_dir: str,
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "auto",
) -> DataFrame:
    """Approximate top-k against the PQ-compressed persisted index via
    asymmetric distance computation: assign each query to its
    ``n_probe`` nearest anchor cells, join the probed inverted lists
    (bucketed FileScan of ~m-byte code rows — no vectors are read
    because none are stored), and score each (query, code) pair by
    summed per-subspace squared distances to the query's sub-vectors.
    Codebooks are trained on unit-norm vectors, so ADC distance is
    monotone in cosine and ranking agrees with the exact metric up to
    quantization error.  Returns (id, rank, match_id, adc_dist) with
    the deterministic (adc ASC, match_id ASC) tiebreak.

    Unlike :func:`knn_pq_adc` (per-call batch tier) the queries are
    NEVER collected to the driver: each Arrow batch of joined pairs
    carries its query vectors and computes distances row-block-wise —
    the query set can itself be cluster-sized.

    Approximation contract (rows-only key — float k-means codebooks
    are not oracle-derivable): recall vs the exact fold path is pinned
    by brute-force tests (`tests/test_round13.py`), and the candidate
    law is the serving law (`SCALE_PROBE .ann_topk_scale`) — pairs =
    |Q| * n_probe * n_c at ~m bytes each."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    if int(n_probe) < 1:
        raise ValueError("n_probe must be >= 1")
    if kernel not in _KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; pick one of {_KERNELS}")
    anchors = _read_anchors(group_dir)
    books = _read_pq_codebooks(group_dir)
    kernel = _resolve_kernel(kernel, len(anchors))
    mm, _kk, sub = books.shape
    ab = _probe_assign(
        _spread_broadcast_probe(arriving.select(id_col, vec_col)),
        vec_col, anchors, kernel, int(n_probe),
    )
    sides = _or_empty(
        _read_index_sides(spark, group_dir),
        ab.select(id_col, "cell", F.lit(None).cast("array<long>").alias("pq_code")),
    )
    pairs = _cell_pairs(ab, int(n_probe), sides, [
        F.col(f"a.{id_col}").alias(id_col),
        F.col(f"a.{vec_col}").alias("__qv__"),
        F.col(f"s.{id_col}").alias("match_id"),
        F.col("s.pq_code").alias("__code__"),
    ])

    def adc(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = _to_matrix(pdf["__qv__"])
            qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
            codes = np.stack(pdf["__code__"].to_numpy()).astype(np.int64)
            est = np.zeros(len(pdf))
            for j in range(mm):
                block = qm[:, j * sub:(j + 1) * sub]
                cent = books[j][codes[:, j]]
                est += ((block - cent) ** 2).sum(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "match_id": pdf["match_id"].to_numpy(),
                "adc_dist": np.round(est, 6),
            })

    from pyspark.sql.types import DoubleType, StructField, StructType

    # id dtypes from the joined frames (query side / stored side)
    scored = pairs.mapInPandas(adc, schema=StructType([
        StructField(id_col, pairs.schema[id_col].dataType),
        StructField("match_id", pairs.schema["match_id"].dataType),
        StructField("adc_dist", DoubleType()),
    ]))
    return _rank(scored, id_col, k, F.col("adc_dist").asc()).select(
        id_col, F.col("rank").cast("int").alias("rank"), "match_id", "adc_dist"
    )
