"""Screening ``similarity.incremental_ann_new`` on the driver.

A small index is screened from the cached index snapshot (the ledger is
a ``LocalTableScan``, the appended rows bucket files written from the
driver); everything else runs the Spark screen (a checkpointed
assignment, ``ExistingRDD`` in the plan) and Spark's bucketed writer.
``spark.sql.autoBroadcastJoinThreshold=-1`` forces the Spark path, so
every case runs on twin indexes, one per path, and after every call the
two must agree on the verdict rows (doubles compared bit for bit), the
schema (nullability included) and the live ``cells`` leaf file for file
(``tests/leaf_files.py``: rows, bucket ids, footers) — compactions at
``compact_after`` included.
"""

import os
import struct
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tubes_spark.operators import similarity as S
from tubes_spark.sink import Sink

from tests.leaf_files import assert_twin_leaves

THR = "spark.sql.autoBroadcastJoinThreshold"
BAD = "invalid ANN vector"


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _bits(v):
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, struct.pack(">d", v))
    if isinstance(v, (list, tuple)):
        return (3, tuple(_bits(x) for x in v))
    return (2, v)


def _rows(df):
    return sorted(tuple(_bits(v) for v in r) for r in df.collect())


def _path(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "ExistingRDD" in plan:
        return "spark"
    assert "LocalTableScan" in plan and "FileScan" not in plan, plan
    return "driver"


def _corpus(n=120, dims=8, seed=3):
    """Random vectors with exact copies planted (i+60 <- i for i < 6),
    so every threshold below sees hits."""
    V = np.random.default_rng(seed).standard_normal((n, dims)).tolist()
    for i in range(6):
        V[60 + i] = list(V[i])
    return V


def _frame(spark, rows, vec_type="array<double>", payload=False):
    """(vec_id, embedding[, label, src]) rows as a local relation."""
    ids, vecs = zip(*rows) if rows else ((), ())
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float64()))}
    ddl = f"vec_id long, embedding {vec_type}"
    if payload:
        cols["label"] = pa.array([None if i is None else i % 3 for i in ids],
                                 pa.int32())
        cols["src"] = pa.array([f"doc-{i}" for i in ids])
        ddl += ", label int, src string"
    return spark.createDataFrame(pa.table(cols), ddl)


def _vecs(spark, V, ids, **kw):
    return _frame(spark, [(i, V[i]) for i in ids], **kw)


class Twins:
    """The same index written twice: ``driver`` screened under the
    default gate, ``spark`` with the Spark path forced."""

    def __init__(self, spark, root, name, batch, **kw):
        self.spark = spark
        self.driver, self.ref = str(root / f"{name}-driver"), str(root / f"{name}-spark")
        for d in (self.driver, self.ref):
            S.write_ann_index(batch, d, **kw)

    def screen(self, arriving, expect="driver", **kw):
        spark = self.spark
        got = S.incremental_ann_new(arriving, spark, self.driver, **kw)
        assert _path(got) == expect
        with _conf(spark, THR, "-1"):
            ref = S.incremental_ann_new(arriving, spark, self.ref, **kw)
            assert _path(ref) == "spark"
            ref_rows = _rows(ref)
        assert got.schema == ref.schema
        assert _rows(got) == ref_rows
        assert_twin_leaves(self.driver, self.ref)
        # (epochs, compaction point); compaction dir names are random
        assert (Sink._committed_epochs(self.driver)[:2]
                == Sink._committed_epochs(self.ref)[:2])
        if kw.get("update_index") and expect == "driver":
            # the appended footers union with the rest: the next call
            # can still load the snapshot
            extra = S._leaf_extra_cols(self.driver, "vec_id", "embedding")
            assert S._index_snapshot(
                self.driver, "vec_id", "embedding", extra,
                S._read_anchors(self.driver), 1 << 30,
            ) is not None
        return got.collect()


@pytest.fixture(scope="module")
def V():
    return _corpus()


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory, V):
    """A read-only twin: 60 stored vectors with payload, 5 anchors."""
    return Twins(spark, tmp_path_factory.mktemp("base"), "idx",
                 _vecs(spark, V, range(60), payload=True), n_anchors=5,
                 n_buckets=4, payload_cols=["label", "src"])


# ------------------------------------ the incremental_ann_new cases, both ways

def test_bruteforce_case_both_paths(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(20)),
               n_anchors=4, n_buckets=4)
    got = {r["vec_id"]: r for r in tw.screen(
        _vecs(spark, V, range(60, 80)), threshold=0.95, update_index=True)}
    assert not got[60]["is_new"] and got[60]["best_sim"] == 1.0  # copy of 0
    assert all(r["is_new"] for i, r in got.items() if i >= 66)
    tw.screen(_vecs(spark, V, range(80, 100)), threshold=0.95)
    tw.screen(_vecs(spark, V, range(0, 12)), threshold=0.5)


@pytest.mark.parametrize("n_probe,threshold", [(1, 0.5), (2, 0.5), (3, 0.3)])
def test_nprobe_cases_both_paths(spark, base, V, n_probe, threshold):
    got = base.screen(_vecs(spark, V, range(60, 100)), threshold=threshold,
                      n_probe=n_probe)
    assert sum(r["n_prior_hits"] for r in got) > 0


def test_nprobe_append_stores_the_first_probe(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(30)),
               n_anchors=6, n_buckets=4)
    tw.screen(_vecs(spark, V, range(60, 90)), threshold=0.5, n_probe=2,
              update_index=True)
    tw.screen(_vecs(spark, V, range(90, 120)), threshold=0.5, n_probe=2)


def test_compaction_at_k_both_paths(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(10)),
               n_anchors=4, n_buckets=4)
    for lo in range(10, 70, 12):
        tw.screen(_vecs(spark, V, range(lo, lo + 12)), threshold=0.9,
                  update_index=True, compact_after=2)
    assert Sink._committed_epochs(tw.driver)[1] is not None  # compacted
    tw.screen(_vecs(spark, V, range(0, 120, 7)), threshold=0.9)


@pytest.mark.parametrize("scope", ["all", "survivors"])
def test_append_scope_both_paths(spark, tmp_path, V, scope):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(20)),
               n_anchors=4, n_buckets=4)
    drift = [(100 + i, [a + 0.25 * b for a, b in zip(V[i], V[i + 1])])
             for i in range(0, 19, 3)]
    drift2 = [(200 + i, [a + 0.55 * b for a, b in zip(V[i], V[i + 1])])
              for i in range(0, 19, 3)]
    tw.screen(_frame(spark, drift), threshold=0.9, update_index=True,
              append_scope=scope)
    tw.screen(_frame(spark, drift2), threshold=0.9, update_index=True,
              append_scope=scope)
    # every arrival rejected: a survivors epoch with no part file
    tw.screen(_vecs(spark, V, range(60, 66)), threshold=0.95,
              update_index=True, append_scope=scope, compact_after=3)
    tw.screen(_vecs(spark, V, range(0, 120, 5)), threshold=0.9)


def test_payload_columns_both_paths(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(30), payload=True),
               n_anchors=4, n_buckets=4, payload_cols=["label", "src"])
    for lo in (60, 75, 90):
        tw.screen(_vecs(spark, V, range(lo, lo + 15), payload=True),
                  threshold=0.8, update_index=True, compact_after=2)
    got = S.index_topk(_vecs(spark, V, range(100, 110)), spark, tw.driver, k=3)
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


def test_float_vectors_both_paths(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx",
               _vecs(spark, V, range(30), vec_type="array<float>"),
               n_anchors=4, n_buckets=4)
    tw.screen(_vecs(spark, V, range(60, 90), vec_type="array<float>"),
              threshold=0.9, update_index=True)


def test_tombstones_both_paths(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(40)),
               n_anchors=4, n_buckets=4)
    for d in (tw.driver, tw.ref):
        assert S.delete_from_ann_index(spark, d, ids=[0, 1, 2, 9]) == 4
    got = {r["vec_id"]: r["is_new"] for r in tw.screen(
        _vecs(spark, V, range(60, 66)), threshold=0.95, update_index=True)}
    assert [got[i] for i in range(60, 66)] == [True] * 3 + [False] * 3
    for d in (tw.driver, tw.ref):
        assert S.purge_ann_tombstones(spark, d) == 4
    tw.screen(_vecs(spark, V, range(0, 12)), threshold=0.95)


def test_empty_index_both_paths(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, []),
               anchors=[V[0], V[1], V[2]], n_buckets=2)
    got = tw.screen(_vecs(spark, V, range(60, 70)), threshold=0.9,
                    update_index=True)
    assert all(r["is_new"] and r["best_sim"] is None for r in got)
    got = {r["vec_id"]: r["is_new"] for r in tw.screen(
        _vecs(spark, V, range(0, 10)), threshold=0.9)}
    assert not any(got[i] for i in range(6))  # copies of 60..65
    tw.screen(_vecs(spark, V, []), threshold=0.9, update_index=True)


# ------------------------------------------------------------- edge cases

def test_duplicate_and_null_ids_both_paths(spark, base, V):
    """Duplicate ids share one hit count and best score; a NULL id never
    joins its hits, so it is new even for an exact copy."""
    rows = [(3, V[3]), (3, V[70]), (3, V[3]), (None, V[4]), (None, V[80]),
            (15, V[15]), (60, V[0])]
    for n_probe in (1, 2):
        got = base.screen(_frame(spark, rows), threshold=0.6, n_probe=n_probe)
        dup = {(r["is_new"], r["n_prior_hits"], r["best_sim"])
               for r in got if r["vec_id"] == 3}
        assert len(dup) == 1 and not dup.pop()[0]
        assert all(r["is_new"] and r["n_prior_hits"] == 0
                   and r["best_sim"] is None
                   for r in got if r["vec_id"] is None)


def test_nan_and_infinite_components_both_paths(spark, tmp_path, V):
    """NaN cosines (from NaN or inf components) compare above every
    threshold, so they are hits and the best score is NaN — on the
    screen and, once appended, for later screens of the same cell."""
    nan, inf = float("nan"), float("inf")
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(30)),
               n_anchors=4, n_buckets=4)
    arr = _frame(spark, [(90, [nan] + V[1][1:]), (91, [inf] + V[2][1:]),
                         (92, V[3])])
    got = {r["vec_id"]: r["best_sim"]
           for r in tw.screen(arr, threshold=0.99, update_index=True)}
    assert all(np.isnan(got[i]) for i in (90, 91))
    for t in (0.99, -1.0, float("nan")):
        tw.screen(_vecs(spark, V, range(60, 90)), threshold=t, n_probe=2)


def test_bad_vector_raises_and_publishes_nothing(spark, tmp_path, V):
    tw = Twins(spark, tmp_path, "idx", _vecs(spark, V, range(20)),
               n_anchors=4, n_buckets=4)
    before = [sorted(os.listdir(f"{d}/_commits")) for d in (tw.driver, tw.ref)]
    for bad in ([0.0] * 8, None, V[1][:5], [None] + V[1][1:]):
        arr = _frame(spark, [(20, V[20]), (21, bad)])
        for ansi in ("true", "false"):
            with _conf(spark, "spark.sql.ansi.enabled", ansi):
                with pytest.raises(ValueError, match=BAD):
                    S.incremental_ann_new(arr, spark, tw.driver,
                                          update_index=True)
                with _conf(spark, THR, "-1"), pytest.raises(Exception, match=BAD):
                    S.incremental_ann_new(arr, spark, tw.ref, update_index=True)
    assert [sorted(os.listdir(f"{d}/_commits")) for d in (tw.driver, tw.ref)] == before
    assert_twin_leaves(tw.driver, tw.ref)


# ------------------------------------------------------------------- gate

def test_gate_sends_other_calls_to_spark(spark, base, V, monkeypatch):
    arr = _vecs(spark, V, range(60, 80))
    out = S.incremental_ann_new(arr, spark, base.driver, kernel="vectorized")
    assert _path(out) == "spark"
    rdd = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, V[i]) for i in range(60, 80)]),
        "vec_id long, embedding array<double>")
    assert _path(S.incremental_ann_new(rdd, spark, base.driver)) == "spark"
    with _conf(spark, THR, "1024"):  # the index files exceed it
        assert _path(S.incremental_ann_new(arr, spark, base.driver)) == "spark"
    # a payload type the local relation does not reproduce as stored
    dec = _vecs(spark, V, range(60, 70), payload=True).withColumn(
        "label", F.col("label").cast("decimal(10,2)"))
    assert _path(S.incremental_ann_new(dec, spark, base.driver,
                                       update_index=False)) == "driver"
    assert S._snapshot_stage(dec, spark, base.driver, S._read_anchors(base.driver),
                             1, "vec_id", "embedding", ["label", "src"],
                             ["label"]) is None
    # vectors of a type the stage cannot fold, and a zero-norm anchor,
    # are refused from the schema and the anchors, before any read
    monkeypatch.setattr(type(arr), "toArrow", lambda df: pytest.fail("read"))
    anchors = S._read_anchors(base.driver)
    dec_vec = arr.withColumn("embedding",
                             F.col("embedding").cast("array<decimal(20,10)>"))
    assert S._snapshot_stage(dec_vec, spark, base.driver, anchors, 1,
                             "vec_id", "embedding", ["label", "src"], []) is None
    zero = [[0.0] * len(anchors[0])] + anchors[1:]
    assert S._snapshot_stage(arr, spark, base.driver, zero, 1, "vec_id",
                             "embedding", ["label", "src"], []) is None


# ---------------------------------------- the Spark plan and _with_cell

def test_spark_topk_plan_evaluates_probe_cells_once(spark, base, V, tmp_path):
    """At n_probe > 1 the probe-cell expression appears once in the
    optimized plan: no inferred size(__probes__) > 0 filter re-evaluates
    it below the assignment."""
    _vecs(spark, V, range(60, 70)).write.parquet(str(tmp_path / "q"))
    q = spark.read.parquet(str(tmp_path / "q"))  # not constant-folded
    with _conf(spark, THR, "-1"):
        out = S.index_topk(q, spark, base.driver, k=3, n_probe=2)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("sort_array(") == 1, plan


def test_with_cell_guards_bad_vectors(spark, V):
    anchors = [V[0], V[1], V[2]]
    ok = S._with_cell(_vecs(spark, V, range(10)), "embedding", anchors,
                      out_col="c")
    assert ok.columns == ["vec_id", "embedding", "c"]
    m = np.asarray(V[:10])
    scores, _ = S._np_anchor_scores(m, S._np_norm(m), anchors)
    assert [r["c"] for r in ok.orderBy("vec_id").collect()] == \
        scores.argmax(axis=1).tolist()
    for kernel in ("expr", "vectorized"):
        bad = S._with_cell(_frame(spark, [(1, [0.0] * 8)]), "embedding",
                           anchors, kernel=kernel)
        with pytest.raises(Exception, match=BAD):
            bad.collect()
