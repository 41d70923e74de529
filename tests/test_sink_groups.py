"""Atomic sink groups and the persisted indexes built on them.

Every rewrite of a group's committed history — compaction, latest-wins,
row delete, index tombstone purge — goes through one
consolidate-and-publish routine in ``tubes_spark.sink``.  These tests
pin what that routine guarantees to the indexes on top of it: the
bucket layout survives every rewrite, removed directories leave no
catalog registration behind, an unbucketed group fails loudly, and a
new index sizes its buckets sanely when Spark cannot size the input.
"""

import hashlib
import os
import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tubes_spark import sink as sinkmod
from tubes_spark.operators import dedup
from tubes_spark.operators import similarity as S
from tubes_spark.sink import Sink


def _docs(ids, texts, spark):
    return spark.createDataFrame(pd.DataFrame({"doc_id": list(ids), "text": texts}))


def _doc_text(i):
    return f"doc {i} " + " ".join(f"d{i}w{j}" for j in range(12))


def _vec(i, dims=8):
    return [
        struct.unpack(">q", hashlib.md5(f"v{i}d{d}".encode()).digest()[:8])[0]
        / 2**63
        for d in range(dims)
    ]


def _vecs(ids, spark):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": list(ids), "embedding": [_vec(i) for i in ids]})
    )


def _delete_then_latest(spark, idx, predicate, key_cols):
    Sink.delete_rows_atomic(spark, idx, predicate)
    Sink.compact_to_latest(spark, idx, key_cols)


# -------------------------------------- DML keeps the bucket layout


def test_minhash_index_survives_delete_and_compact_to_latest(spark, tmp_path):
    """After a row delete and a latest-wins rewrite the index is still
    bucketed, and an incremental screen answers exactly like a fresh
    index of the surviving rows.  A rewrite that dropped the bucket
    layout would make the next screen fail with INVALID_BUCKET_FILE."""
    ids = list(range(40))
    idx = str(tmp_path / "idx")
    dedup.write_minhash_index(
        _docs(ids, [_doc_text(i) for i in ids], spark), idx, n_buckets=4
    )
    _delete_then_latest(spark, idx, "doc_id >= 20", ["band", "key"])

    fresh = str(tmp_path / "fresh")
    dedup.write_minhash_index(
        _docs(ids[:20], [_doc_text(i) for i in ids[:20]], spark), fresh,
        n_buckets=4,
    )
    # replicas of a surviving doc and of a deleted doc, plus a new doc
    arr = _docs(
        [100, 101, 102],
        [_doc_text(3), _doc_text(33), "entirely fresh words here " * 3],
        spark,
    )
    # the Spark screen (broadcasts off) scans every live dir bucketed
    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        got = dedup.incremental_minhash_new(arr, spark, idx)
        want = dedup.incremental_minhash_new(arr, spark, fresh)
        assert {r["doc_id"] for r in got.collect()} == {
            r["doc_id"] for r in want.collect()
        } == {101, 102}
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set(thr, prev)
    # the driver screen reads the rewritten leaf's files directly
    got = dedup.incremental_minhash_new(arr, spark, idx)
    assert {r["doc_id"] for r in got.collect()} == {101, 102}


def test_ann_index_survives_delete_and_compact_to_latest(spark, tmp_path):
    """The same for the vector index, read through index_topk."""
    ids = list(range(40))
    anchors = [_vec(1000 + a) for a in range(4)]
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(ids, spark), idx, anchors=anchors, n_buckets=4)
    _delete_then_latest(spark, idx, "vec_id >= 20", ["vec_id"])

    fresh = str(tmp_path / "fresh")
    S.write_ann_index(_vecs(ids[:20], spark), fresh, anchors=anchors, n_buckets=4)
    q = _vecs([2, 25, 37], spark)

    def topk(d):
        rows = S.index_topk(q, spark, d, k=5, n_probe=2).collect()
        return sorted(
            (r["vec_id"], r["rank"], r["match_id"], r["match_sim"]) for r in rows
        )

    got = topk(idx)
    assert got == topk(fresh)
    assert got and all(m < 20 for _, _, m, _ in got)


# -------------------------------------- gc leaves no stale registration


def _two_epoch_ann_index(spark, idx):
    S.write_ann_index(_vecs(range(20), spark), idx, n_anchors=3, n_buckets=2)
    S.incremental_ann_new(
        _vecs(range(20, 30), spark), spark, idx, threshold=0.999,
        update_index=True,
    ).collect()


CONSOLIDATIONS = {
    "compact": lambda spark, d: Sink.compact_atomic_group(spark, d, gc=True),
    "latest": lambda spark, d: Sink.compact_to_latest(spark, d, ["vec_id"]),
    "delete": lambda spark, d: Sink.delete_rows_atomic(spark, d, "vec_id = 3"),
    "purge": lambda spark, d: (
        S.delete_from_ann_index(spark, d, ids=[3]),
        S.purge_ann_tombstones(spark, d),
    ),
}


@pytest.mark.parametrize("op", sorted(CONSOLIDATIONS))
def test_consolidation_gc_drops_registrations(spark, tmp_path, op):
    """ADVICE r14: every consolidation's gc removes a directory together
    with the bucketed table a reader registered over it — neither the
    registration cache nor the session catalog may still name it."""
    idx = str(tmp_path / "idx")
    _two_epoch_ann_index(spark, idx)
    before = Sink.live_leaf_dirs(idx, "cells")
    n_before = S.ann_index_stats(spark, idx).agg(F.sum("n_vectors")).first()[0]
    registered = {
        Sink._bucket_table_name(d) for d in before
    } & {t for _, t in sinkmod._BUCKET_TBL_REGISTERED}
    assert registered == {Sink._bucket_table_name(d) for d in before}

    CONSOLIDATIONS[op](spark, idx)

    removed = [d for d in before if not os.path.exists(d)]
    assert len(removed) == len(before)  # both epoch dirs were consolidated
    app = spark.sparkContext.applicationId
    live_tables = {
        r["tableName"] for r in spark.sql("SHOW TABLES").collect()
    }
    for d in removed:
        tbl = Sink._bucket_table_name(d)
        assert (app, tbl) not in sinkmod._BUCKET_TBL_REGISTERED, (op, d)
        assert tbl not in live_tables, (op, d)
    n_after = S.ann_index_stats(spark, idx).agg(F.sum("n_vectors")).first()[0]
    assert n_after == n_before - (0 if op in ("compact", "latest") else 1)


# -------------------------------------- unbucketed groups fail loudly


def test_unbucketed_minhash_group_is_refused(spark, tmp_path):
    """A bands group without _bucketspec.json (the pre-bucketing layout,
    which no writer produces) is refused with a message that says to
    rebuild — never read through a different code path."""
    g = str(tmp_path / "plain")
    docs = _docs(range(4), [_doc_text(i) for i in range(4)], spark)
    bands = dedup.arith_minhash_bands(docs)
    Sink.atomic_parquet_group(g, {"bands": None}).for_each_batch()(bands, 0)
    assert Sink._bucket_spec(g) is None
    arr = _docs([50], [_doc_text(1)], spark)
    with pytest.raises(ValueError, match="rebuild the index"):
        dedup.incremental_minhash_new(arr, spark, g)


def test_ann_index_without_bucketspec_is_refused(spark, tmp_path):
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), spark), idx, n_anchors=2, n_buckets=2)
    os.remove(f"{idx}/_bucketspec.json")
    with pytest.raises(ValueError, match="rebuild the index"):
        S.index_topk(_vecs([1], spark), spark, idx, k=2)
    with pytest.raises(ValueError, match="rebuild the index"):
        S.incremental_ann_new(_vecs([1], spark), spark, idx)


# -------------------------------------- bucket count from plan stats


def test_size_derived_buckets_unknown_stats_give_the_floor(spark):
    """An RDD-backed frame reports sizeInBytes = Long.MaxValue (unknown),
    and a projection over it scales that placeholder — neither may
    drive the count to the cap."""
    df = spark.createDataFrame(
        [(i, "x" * 10) for i in range(200)], "a long, b string"
    )
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est >= 2**63 - 1  # the default size: unknown
    assert Sink.size_derived_buckets(df) == 8
    assert Sink.size_derived_buckets(df.select("a")) == 8
    assert Sink.size_derived_buckets(df, floor=3) == 3


def test_size_derived_buckets_huge_known_stats_clamp_to_cap(spark):
    # Range's estimate is exact: 8 bytes per row, 8 TiB here
    huge = spark.range(0, 1 << 40)
    assert Sink.size_derived_buckets(huge) == 4096
    assert Sink.size_derived_buckets(huge, cap=100) == 100
    # 3 GiB of known size sits between floor and cap: 12 x 256 MiB
    assert Sink.size_derived_buckets(spark.range(0, 3 * (1 << 27))) == 12


def test_size_derived_buckets_empty_input_gives_the_floor(spark, tmp_path):
    assert Sink.size_derived_buckets(spark.range(0)) == 8
    p = str(tmp_path / "empty")
    spark.range(0).write.parquet(p)
    assert Sink.size_derived_buckets(spark.read.parquet(p), floor=5) == 5
