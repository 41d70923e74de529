"""The persisted-ANN core's two kernels agree on every reader.

Each case runs one reader with ``kernel="expr"`` (the bit-exact
sequential fold) and ``kernel="vectorized"`` (the broadcast / per-cell
matmul) and returns ``{key: (exact fields, cosine)}``: the keys and the
exact fields must match, and the cosines agree at the 6-dp output
rounding (BLAS summation may sit ~1 ulp off the fold).  Some cases also
replay the answer in numpy.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tubes_spark.operators import similarity as S


def _vec_corpus(n, dims=8):
    import hashlib
    import struct

    def vec(i):
        return [
            struct.unpack(">q", hashlib.md5(f"v{i}d{d}".encode()).digest()[:8])[0]
            / 2**63
            for d in range(dims)
        ]

    return [vec(i) for i in range(n)]


def _lvecs(spark, ids, V, label=lambda i: i % 3):
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": list(ids),
        "embedding": [V[i] for i in ids],
        "label": [label(i) for i in ids],
    }))


def _rows(df, key, exact, sim=None):
    return {
        tuple(r[c] for c in key): (
            tuple(r[c] for c in exact), None if sim is None else r[sim]
        )
        for r in df.collect()
    }


def _unit(m):
    m = np.asarray(m, dtype=np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


# ------------------------------------------------------------------ cases
# Each case: (spark, tmp_path) -> (run(kernel) -> rows, check(expr rows)).


def _cell_assignment(spark, tmp_path):
    """Cell (``_with_cell``) and top-3 probe list (``_probe_assign``)
    per vector; the expression kernel's probe lists also equal the
    numpy fold reference's."""
    V = _vec_corpus(200)
    batch = _lvecs(spark, range(200), V).select("vec_id", "embedding")
    anchors = [V[i] for i in range(0, 40, 4)]  # 10 anchors

    def run(kernel):
        cells = {
            r["vec_id"]: r["cell"]
            for r in S._with_cell(batch, "embedding", anchors, kernel=kernel).collect()
        }
        probes = S._probe_assign(batch, "embedding", anchors, kernel, 3)
        return {
            (r["vec_id"],): ((cells[r["vec_id"]], r["cell"], tuple(r["__probes__"])), None)
            for r in probes.collect()
        }

    def check(rows):
        m = np.asarray(V, dtype=np.float64)
        scores, _ = S._np_anchor_scores(m, S._np_norm(m), anchors)
        want = S._np_probe_cells(scores, np.zeros(scores.shape, bool), 3)
        for (i,), ((cell, primary, probes), _) in rows.items():
            assert probes == tuple(want[i].tolist())
            assert cell == primary == probes[0]

    return run, check


def _mine_hard_negatives(spark, tmp_path):
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    anchors = S.kmeans_anchors_decimal(e, n_anchors=8, iters=2)

    def run(kernel):
        return _rows(
            S.mine_hard_negatives(e, anchors, kernel=kernel), ["vec_id"],
            ["cell", "neg_id", "neg_label"], "neg_sim",
        )

    return run, None


def _cluster_prototypes(spark, tmp_path):
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    anchors = S.kmeans_anchors_decimal(e, n_anchors=8, iters=2)

    def run(kernel):
        return _rows(
            S.cluster_prototypes(e, anchors, m=5, kernel=kernel),
            ["cell", "rnk"], ["vec_id"], "cos_centroid",
        )

    return run, None


def _index_hard_negatives(spark, tmp_path):
    V = _vec_corpus(80)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(spark, range(0, 80, 2), V), d, n_anchors=5, n_buckets=4,
        payload_cols=["label"],
    )
    arr = _lvecs(spark, range(1, 80, 2), V)

    def run(kernel):
        return _rows(
            S.index_hard_negatives(arr, spark, d, kernel=kernel), ["vec_id"],
            ["cell", "neg_id", "neg_label"], "neg_sim",
        )

    return run, None


def _index_topk(spark, tmp_path):
    """Probe-2 top-3 retrieval; the expression kernel's answer is also
    a numpy replay of IVF top-k with the (cos DESC, id ASC) tiebreak."""
    V = _vec_corpus(90)
    d = str(tmp_path / "idx")
    stored_ids = [i for i in range(90) if i % 3 != 0]
    q_ids = [i for i in range(90) if i % 3 == 0]
    S.write_ann_index(
        _lvecs(spark, stored_ids, V), d, n_anchors=5, n_buckets=4,
        payload_cols=["label"],
    )
    q = _lvecs(spark, q_ids, V).select("vec_id", "embedding")

    def run(kernel):
        return _rows(
            S.index_topk(q, spark, d, k=3, n_probe=2, kernel=kernel),
            ["vec_id", "rank"], ["match_id", "match_label"], "match_sim",
        )

    def check(rows):
        Vn = _unit(V)
        scores = Vn @ _unit(S._read_anchors(d)).T
        scell = {s: int(scores[s].argmax()) for s in stored_ids}
        n_rows = 0
        for qi in q_ids:
            probes = set(np.argsort(-scores[qi], kind="stable")[:2])
            cand = [s for s in stored_ids if scell[s] in probes]
            best = sorted((-(Vn[s] @ Vn[qi]), s) for s in cand)[:3]
            n_rows += len(best)
            for r, (negsim, sid) in enumerate(best, start=1):
                (match_id, _), sim = rows[(qi, r)]
                assert match_id == sid, (qi, r, match_id, best)
                assert abs(sim - (-negsim)) <= 1e-6
        assert len(rows) == n_rows

    return run, check


def _null_labels(spark, tmp_path):
    """A NULL label pairs with nothing in SQL (NULL <> x drops the
    pair); the matmul kernel must reproduce that, not NaN != NaN — in
    the batch miner and the index-backed one."""
    V = _vec_corpus(24)
    df = _lvecs(spark, range(24), V, label=lambda i: None if i % 4 == 0 else i % 3)
    anchors = S.kmeans_anchors_decimal(
        df.select("vec_id", "embedding"), n_anchors=2, iters=1
    )
    d = str(tmp_path / "idx")
    S.write_ann_index(
        df.filter(F.col("vec_id") % 2 == 0), d, n_anchors=3, n_buckets=2,
        payload_cols=["label"],
    )
    arr = df.filter(F.col("vec_id") % 2 == 1)

    def run(kernel):
        cols = ["label", "neg_id", "neg_label"]
        batch = _rows(S.mine_hard_negatives(df, anchors, kernel=kernel),
                      ["vec_id"], cols, "neg_sim")
        index = _rows(S.index_hard_negatives(arr, spark, d, kernel=kernel),
                      ["vec_id"], cols, "neg_sim")
        return {("batch", *k): v for k, v in batch.items()} | {
            ("index", *k): v for k, v in index.items()
        }

    def check(rows):
        assert {k[0] for k in rows} == {"batch", "index"}
        assert all(lab is not None and neg is not None
                   for (lab, _, neg), _ in rows.values())

    return run, check


CASES = {
    "cell_assignment": _cell_assignment,
    "mine_hard_negatives": _mine_hard_negatives,
    "cluster_prototypes": _cluster_prototypes,
    "index_hard_negatives": _index_hard_negatives,
    "index_topk": _index_topk,
    "null_labels": _null_labels,
}


@pytest.mark.parametrize("reader", list(CASES))
def test_vectorized_kernel_matches_expression_kernel(spark, tmp_path, reader):
    run, check = CASES[reader](spark, tmp_path)
    expr, vec = run("expr"), run("vectorized")
    assert expr, "the case must produce rows"
    assert set(expr) == set(vec)
    for key, (exact, sim) in expr.items():
        assert exact == vec[key][0], (key, exact, vec[key])
        if sim is not None:
            assert abs(sim - vec[key][1]) <= 1e-6, (key, sim, vec[key])
    if check is not None:
        check(expr)
