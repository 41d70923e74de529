"""Bucketed leaf dirs written from the driver (``Sink._write_bucket_files``).

Small epoch appends and small-group compactions skip Spark's bucketed
writer and write the same files with pyarrow.  Spark's writer is the
reference: ``spark.sql.autoBroadcastJoinThreshold=-1`` sends every write
to it, so each case runs on twin groups and the two must match file for
file (``tests/leaf_files.py``: rows, sort order, bucket ids, footers).
The bucket id of every written file must equal Spark's own
``pmod(hash(cols), n)`` of its rows, the dirs must read back as bucketed
scans, and a crash mid-write must leave readers where they were.
"""

import os
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from tubes_spark import sink as sinkmod
from tubes_spark.sink import Sink

from tests.leaf_files import assert_twin_leaves, file_bucket

THR = "spark.sql.autoBroadcastJoinThreshold"
KEYS = ["band", "key"]

# UTF-8 tails of every length 0..7 (ASCII and multi-byte), NULLs, the
# int extremes and -1
STRS = [None, "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
        "é", "日本", "日本語", "ÿ€x", "\u0000ÿ", "x" * 33, "37_1055"]
INTS = [None, -2**31, -1, 0, 1, 2**31 - 1, 42, 7]
LONGS = [None, -2**63, -1, 0, 2**32, 2**63 - 1, 5, -2**31]

SCHEMA = StructType([
    StructField("i", IntegerType(), True),
    StructField("l", LongType(), True),
    StructField("s", StringType(), True),
    StructField("v", ArrayType(DoubleType(), True), True),
])


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture
def writers(monkeypatch):
    """Which writer each leaf write took: "driver" or "spark"."""
    seen = []
    real_d, real_s = Sink._write_bucket_files, Sink._write_bucketed_dir

    def drv(*a, **kw):
        seen.append("driver")
        return real_d(*a, **kw)

    def spk(*a, **kw):
        seen.append("spark")
        return real_s(*a, **kw)

    monkeypatch.setattr(Sink, "_write_bucket_files", staticmethod(drv))
    monkeypatch.setattr(Sink, "_write_bucketed_dir", staticmethod(spk))
    return seen


def _table(n=300, seed=0):
    """The edge values above, then random rows."""
    rng = np.random.default_rng(seed)
    m = max(len(STRS), len(INTS), len(LONGS))
    words = ["".join(rng.choice(list("ab日é_09"), rng.integers(0, 9)))
             for _ in range(n)]
    return pa.table({
        "i": pa.array([INTS[j % len(INTS)] for j in range(m)]
                      + rng.integers(-2**31, 2**31, n).tolist(), pa.int32()),
        "l": pa.array([LONGS[j % len(LONGS)] for j in range(m)]
                      + rng.integers(-2**63, 2**63, n).tolist(), pa.int64()),
        "s": pa.array([STRS[j % len(STRS)] for j in range(m)] + words),
        "v": pa.array([None, [1.0, None]] + [[float(j), -0.0] for j in range(m + n - 2)],
                      pa.list_(pa.float64())),
    })


def _bands(rows):
    """(doc_id, band, key) rows as an Arrow table and its Spark schema."""
    ids, bands, keys = zip(*rows)
    return (
        pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "band": pa.array(bands, pa.int32()),
                  "key": pa.array(keys, pa.string())}),
        StructType([StructField("doc_id", LongType(), True),
                    StructField("band", IntegerType(), False),
                    StructField("key", StringType(), False)]),
    )


def _append_twins(spark, drv, ref, data, cols, n, writers, **kw):
    """Append ``data`` to ``drv`` from the driver and to ``ref`` through
    Spark's writer."""
    del writers[:]
    Sink.append_bucketed_epoch(data, drv, "leaf", cols, n, spark=spark, **kw)
    assert set(writers) == {"driver"}  # a compaction it runs too
    del writers[:]
    with _conf(spark, THR, "-1"):
        Sink.append_bucketed_epoch(data, ref, "leaf", cols, n, spark=spark, **kw)
    assert set(writers) == {"spark"}


def _group_rows(spark, d):
    return sorted(
        tuple((v is None, v) for v in r)
        for r in Sink.read_atomic_group(spark, d, "leaf").collect()
    )


# ------------------------------------------------------------- bucket ids

@pytest.mark.parametrize("n", [1, 7, 8, 4096])
@pytest.mark.parametrize("cols", [["i"], ["l"], ["s"], ["i", "s"]])
def test_bucket_ids_are_sparks_hash(spark, tmp_path, cols, n):
    """Every written file's bucket id equals Spark's pmod(hash(cols), n)
    over each of its rows, and every row is written once."""
    t = _table()
    d = str(tmp_path / "d")
    Sink._write_bucket_files(spark, t, SCHEMA, d, cols, n)
    got = (
        spark.read.parquet(d)
        .select(F.input_file_name().alias("f"),
                F.expr(f"pmod(hash({', '.join(cols)}), {n})").alias("b"))
        .groupBy("f", "b").count().collect()
    )
    assert all(file_bucket(r["f"]) == r["b"] for r in got)
    assert len({r["f"] for r in got}) == len(got)  # one bucket per file
    assert sum(r["count"] for r in got) == t.num_rows


@pytest.mark.parametrize("cols", [["i"], ["l"], ["s"], ["i", "s"]])
def test_driver_append_matches_spark_file_for_file(spark, tmp_path, cols, writers):
    drv, ref = str(tmp_path / "drv"), str(tmp_path / "ref")
    _append_twins(spark, drv, ref, (_table(), SCHEMA), cols, 7, writers)
    assert_twin_leaves(drv, ref)
    assert _group_rows(spark, drv) == _group_rows(spark, ref)


@pytest.mark.parametrize("codec", ["zstd", "gzip", "uncompressed", "lz4"])
def test_codec_follows_the_session(spark, tmp_path, codec, writers):
    """Files take the session's codec; one pyarrow does not write the
    way Spark does (lz4: Hadoop's framing) goes to Spark's writer."""
    drv, ref = str(tmp_path / "drv"), str(tmp_path / "ref")
    with _conf(spark, "spark.sql.parquet.compression.codec", codec):
        if codec == "lz4":
            Sink.append_bucketed_epoch((_table(), SCHEMA), drv, "leaf", ["s"], 7, spark=spark)
            assert writers == ["spark"]
            return
        _append_twins(spark, drv, ref, (_table(), SCHEMA), ["s"], 7, writers)
    assert_twin_leaves(drv, ref)


# ------------------------------------------------------------------ reads

def test_driver_written_dirs_read_as_bucketed_scans(spark, tmp_path, writers):
    """A driver-written dir registers as a bucketed table: the join plans
    a bucketed scan with one Exchange, on the probe side, and returns
    the rows the Spark-written twin returns."""
    rng = np.random.default_rng(5)
    rows = [(int(i), int(rng.integers(0, 8)), f"{rng.integers(0, 60)}_é")
            for i in range(400)]
    drv, ref = str(tmp_path / "drv"), str(tmp_path / "ref")
    _append_twins(spark, drv, ref, _bands(rows), KEYS, 4, writers)
    probe = spark.createDataFrame(
        pa.table({"band": pa.array([r[1] for r in rows[:50]], pa.int32()),
                  "key": [r[2] for r in rows[:50]], "q": list(range(50))})
    )
    out = []
    with _conf(spark, THR, "-1"):
        for d in (drv, ref):
            (side,) = Sink.read_bucketed_leaf(spark, d)
            j = probe.join(side, KEYS)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, plan
            assert plan.count("Exchange") == 1, plan  # the probe's shuffle
            out.append(sorted(tuple(r) for r in j.collect()))
    assert out[0] == out[1] and len(out[0]) >= 50


# ------------------------------------------------------------ empty input

def test_empty_epoch_writes_no_file_and_commits(spark, tmp_path, writers):
    g = str(tmp_path / "g")
    Sink.append_bucketed_epoch(_bands([(1, 0, "k")]), g, "leaf", KEYS, 4, spark=spark)
    t, schema = _bands([(1, 0, "k")])
    Sink.append_bucketed_epoch((t.slice(0, 0), schema), g, "leaf", KEYS, 4, spark=spark)
    assert writers == ["driver", "driver"]
    assert Sink._committed_epochs(g)[0] == [0, 1]
    assert os.path.isdir(Sink._epoch_dir(g, "leaf", 1))
    assert Sink.part_files(Sink._epoch_dir(g, "leaf", 1)) == []
    assert len(Sink.read_bucketed_leaf(spark, g)) == 1  # the empty dir is skipped
    assert [tuple(r) for r in Sink.read_atomic_group(spark, g, "leaf").collect()] == [
        (1, 0, "k", 0)
    ]


# ------------------------------------------------------------- compaction

def _epoch_rows(e, id_type):
    """Band rows whose keys repeat across and within epochs, with NULL
    ids (they win a key: NULLs sort first) and non-ASCII keys."""
    rng = np.random.default_rng(100 + e)
    rows = [(None if j % 17 == 0 else int(rng.integers(0, 50)),
             int(rng.integers(0, 4)), f"{rng.integers(0, 25)}_ü")
            for j in range(60)]
    if id_type == "string":
        rows = [(None if i is None else f"d{i}", b, k) for i, b, k in rows]
    return rows


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_driver_compaction_matches_spark(spark, tmp_path, id_type, writers):
    """Compaction with key dedupe, first from epoch dirs only, then from
    the compact dir plus newer epochs: equal rows, epoch column, dedupe
    winners and files on both twins."""
    drv, ref = str(tmp_path / "drv"), str(tmp_path / "ref")
    id_t = LongType() if id_type == "long" else StringType()
    schema = StructType([StructField("doc_id", id_t, True),
                         StructField("band", IntegerType(), False),
                         StructField("key", StringType(), False)])
    keys = {"leaf": KEYS}
    for rounds in (range(3), range(3, 5)):
        for e in rounds:
            rows = _epoch_rows(e, id_type)
            t = pa.table({"doc_id": [r[0] for r in rows],
                          "band": pa.array([r[1] for r in rows], pa.int32()),
                          "key": [r[2] for r in rows]})
            _append_twins(spark, drv, ref, (t, schema), KEYS, 4, writers)
        del writers[:]
        Sink.compact_atomic_group(spark, drv, gc=True, dedupe_keys=keys)
        with _conf(spark, THR, "-1"):
            Sink.compact_atomic_group(spark, ref, gc=True, dedupe_keys=keys)
        assert writers == ["driver", "spark"]
        assert Sink._committed_epochs(drv)[:2] == Sink._committed_epochs(ref)[:2]
        assert_twin_leaves(drv, ref)
        assert _group_rows(spark, drv) == _group_rows(spark, ref)


def test_driver_compaction_without_dedupe_matches_spark(spark, tmp_path, writers):
    """An ANN-shaped leaf (nullable int bucket column, a vector, a string
    payload) compacts to the same files either way."""
    drv, ref = str(tmp_path / "drv"), str(tmp_path / "ref")
    schema = StructType([StructField("vec_id", LongType(), True),
                         StructField("cell", IntegerType(), True),
                         StructField("vec", ArrayType(DoubleType(), True), True),
                         StructField("src", StringType(), True)])
    for e in range(3):
        rng = np.random.default_rng(e)
        t = pa.table({
            "vec_id": pa.array(np.arange(40) + 40 * e),
            "cell": pa.array([None if j % 9 == 0 else int(rng.integers(0, 6))
                              for j in range(40)], pa.int32()),
            "vec": pa.array(rng.standard_normal((40, 3)).tolist()),
            "src": [f"doc-{j}" for j in range(40)],
        })
        _append_twins(spark, drv, ref, (t, schema), ["cell"], 4, writers,
                      compact_after=3)
    assert Sink._committed_epochs(drv)[1] == 2  # compacted at the third append
    assert_twin_leaves(drv, ref)
    assert _group_rows(spark, drv) == _group_rows(spark, ref)


def test_other_groups_compact_through_spark(spark, tmp_path, writers, monkeypatch):
    """A group with a leaf besides its bucket leaf, and a leaf over the
    threshold or over the driver compaction cap, go to Spark's writer."""
    g = str(tmp_path / "g")
    Sink.append_bucketed_epoch(
        _bands([(1, 0, "k"), (2, 1, "j")]), g, "leaf", KEYS, 4, spark=spark
    )
    Sink.append_bucketed_epoch(_bands([(3, 0, "k")]), g, "leaf", KEYS, 4, spark=spark)
    with _conf(spark, THR, "10"):  # bytes: below the live files
        del writers[:]
        Sink.compact_atomic_group(spark, g, dedupe_keys={"leaf": KEYS})
        assert writers == ["spark"]
    Sink.append_bucketed_epoch(_bands([(5, 3, "h")]), g, "leaf", KEYS, 4, spark=spark)
    with monkeypatch.context() as m:
        m.setattr(sinkmod, "_LOCAL_COMPACT_BYTES", 10)
        del writers[:]
        Sink.compact_atomic_group(spark, g, dedupe_keys={"leaf": KEYS})
        assert writers == ["spark"]
    g2 = str(tmp_path / "g2")
    spark.range(3).write.parquet(Sink._epoch_dir(g2, "other", 0))
    Sink.append_bucketed_epoch(
        _bands([(4, 2, "i")]), g2, "leaf", KEYS, 4, epoch=0, spark=spark
    )
    del writers[:]
    Sink.compact_atomic_group(spark, g2, dedupe_keys={"leaf": KEYS})
    assert writers == ["spark"]


# ----------------------------------------------------------------- crashes

def _fail_on_file(monkeypatch, k):
    """Make the k-th parquet file pyarrow writes from now on raise
    instead of being written."""
    real, calls = pq.write_table, []

    def flaky(*a, **kw):
        calls.append(1)
        if len(calls) == k:
            raise OSError("injected write failure")
        return real(*a, **kw)

    monkeypatch.setattr(pq, "write_table", flaky)


def test_append_crash_mid_epoch_is_invisible_and_retry_converges(
    spark, tmp_path, monkeypatch, writers
):
    drv, ref = str(tmp_path / "drv"), str(tmp_path / "ref")
    t0, t1 = _table(seed=1), _table(seed=2)
    _append_twins(spark, drv, ref, (t0, SCHEMA), ["s"], 8, writers)
    before = _group_rows(spark, drv)
    with monkeypatch.context() as m:
        _fail_on_file(m, 3)
        with pytest.raises(OSError, match="injected"):
            Sink.append_bucketed_epoch((t1, SCHEMA), drv, "leaf", ["s"], 8, spark=spark)
    torn = Sink._epoch_dir(drv, "leaf", 1)
    assert len(Sink.part_files(torn)) == 2  # some bucket files landed
    assert Sink._committed_epochs(drv)[0] == [0]
    assert _group_rows(spark, drv) == before
    # the retry at the same epoch replaces the torn dir
    Sink.append_bucketed_epoch((t1, SCHEMA), drv, "leaf", ["s"], 8, epoch=1, spark=spark)
    with _conf(spark, THR, "-1"):
        Sink.append_bucketed_epoch((t1, SCHEMA), ref, "leaf", ["s"], 8, spark=spark)
    assert_twin_leaves(drv, ref)
    assert _group_rows(spark, drv) == _group_rows(spark, ref)


def test_compaction_crash_keeps_readers_on_previous_layout(
    spark, tmp_path, monkeypatch, writers
):
    g = str(tmp_path / "g")
    for e in range(3):
        t = pa.table({"doc_id": pa.array(range(30 * e, 30 * e + 30), pa.int64()),
                      "band": pa.array([j % 4 for j in range(30)], pa.int32()),
                      "key": [f"k{j}" for j in range(30)]})
        Sink.append_bucketed_epoch(
            (t, _bands([(0, 0, "")])[1]), g, "leaf", KEYS, 4, spark=spark
        )
    before = _group_rows(spark, g)
    live = Sink.live_leaf_dirs(g, "leaf")
    with monkeypatch.context() as m:
        _fail_on_file(m, 2)
        with pytest.raises(OSError, match="injected"):
            Sink.compact_atomic_group(spark, g, gc=True)
    assert not os.path.exists(f"{g}/_compacted")
    assert Sink.live_leaf_dirs(g, "leaf") == live
    assert _group_rows(spark, g) == before
    (tmp,) = [str(p) for p in (tmp_path / "g" / "leaf" / "compact").iterdir()]
    assert os.path.basename(tmp).startswith(".tmp.upto=2")
    # a reader that registered the dead tmp dir (as one can) ...
    Sink._read_bucketed_dir(spark, tmp, KEYS, 4)
    tbl = Sink._bucket_table_name(tmp)
    assert spark.catalog.tableExists(tbl)
    # ... loses it to the next compaction's gc, with the tmp dir
    Sink.compact_atomic_group(spark, g, gc=True)
    assert not os.path.exists(tmp)
    assert not spark.catalog.tableExists(tbl)
    assert (spark.sparkContext.applicationId, tbl) not in sinkmod._BUCKET_TBL_REGISTERED
    assert _group_rows(spark, g) == before


@pytest.mark.parametrize("lost", ["compact", "epoch"])
def test_missing_live_dir_fails_compaction_loudly(spark, tmp_path, writers, lost):
    """A live dir the markers name but the disk lacks is not read as
    empty: the compaction goes to Spark's read, which fails, and no new
    compaction point is published over the lost rows."""
    import shutil

    g = str(tmp_path / "g")
    keys = {"leaf": KEYS}
    for e in range(2):
        Sink.append_bucketed_epoch(_bands([(e, 0, f"k{e}")]), g, "leaf", KEYS, 4, spark=spark)
    Sink.compact_atomic_group(spark, g, gc=True, dedupe_keys=keys)
    Sink.append_bucketed_epoch(_bands([(2, 1, "k2")]), g, "leaf", KEYS, 4, spark=spark)
    compact, epoch_dir = Sink.live_leaf_dirs(g, "leaf")
    shutil.rmtree(compact if lost == "compact" else epoch_dir)
    points = sorted(os.listdir(f"{g}/_compacted"))
    del writers[:]
    with pytest.raises(Exception):
        Sink.compact_atomic_group(spark, g, gc=True, dedupe_keys=keys)
    assert "driver" not in writers
    assert sorted(os.listdir(f"{g}/_compacted")) == points
