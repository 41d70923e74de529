"""Screening ``dedup.incremental_minhash_new`` on the driver.

A small MinHash index is screened from the cached snapshot of its live
(band, key) set: the shingle hashes come from one Spark projection, the
minima, band keys and hits from numpy; the duplicate ids are a local
relation and the appended band rows bucket files written from the
driver.  Everything else runs the Spark screen (a checkpointed signature
frame semi-joined to every live index dir) and Spark's bucketed writer.
``spark.sql.autoBroadcastJoinThreshold=-1`` forces the Spark path, so
every case runs on twin indexes, one per path, and after every call the
two must agree on the survivor rows, the schema (nullability included)
and the live ``bands`` leaf file for file (``tests/leaf_files.py``:
rows, bucket ids, footers) — compactions at ``compact_after`` included.
"""

import shutil
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest

from tubes_spark.operators import dedup as D
from tubes_spark.sink import Sink

from tests.leaf_files import assert_twin_leaves

THR = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextmanager
def _paths():
    """Record which path each call in the block took."""
    seen, real = [], D._screen_on_driver

    def spy(*a, **kw):
        out = real(*a, **kw)
        seen.append("spark" if out is None else "driver")
        return out

    D._screen_on_driver = spy
    try:
        yield seen
    finally:
        D._screen_on_driver = real


def _rows(df):
    return sorted(tuple((v is None, v) for v in r) for r in df.collect())


def _frame(spark, rows, id_type="long"):
    """(doc_id, text) rows as a local relation."""
    ids, texts = zip(*rows) if rows else ((), ())
    if id_type == "string":
        ids = [i if i is None else str(i) for i in ids]
    t = pa.table({"doc_id": pa.array(ids, pa.string() if id_type == "string"
                                     else pa.int64()),
                  "text": pa.array(texts, pa.string())})
    return spark.createDataFrame(t, f"doc_id {id_type}, text string")


class Twins:
    """The same index written twice: ``driver`` screened under the
    default gate, ``ref`` with the Spark path forced."""

    def __init__(self, spark, root, name, batch, n_buckets=4):
        self.spark = spark
        self.driver, self.ref = (str(root / f"{name}-driver"),
                                 str(root / f"{name}-spark"))
        for d in (self.driver, self.ref):
            D.write_minhash_index(batch, d, n_buckets=n_buckets)

    def screen(self, arriving, expect="driver", **kw):
        spark = self.spark
        with _paths() as seen:
            got = D.incremental_minhash_new(arriving, spark, self.driver, **kw)
        assert seen == [expect]
        with _conf(spark, THR, "-1"), _paths() as seen:
            ref = D.incremental_minhash_new(arriving, spark, self.ref, **kw)
            assert seen == ["spark"]
            ref_rows = _rows(ref)
        assert got.schema == ref.schema
        assert _rows(got) == ref_rows
        assert_twin_leaves(self.driver, self.ref)
        # (epochs, compaction point); compaction dir names are random
        assert (Sink._committed_epochs(self.driver)[:2]
                == Sink._committed_epochs(self.ref)[:2])
        return {r["doc_id"] for r in got.collect()}


@pytest.fixture(scope="module")
def T():
    """80 texts of 14 random words; 40..45 copy 0..5 and 46..51 are
    near-duplicates of 6..11 (one word appended)."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    T = [" ".join(rng.choice(vocab, 14)) for _ in range(80)]
    for i in range(6):
        T[40 + i] = T[i]
        T[46 + i] = T[6 + i] + " extra"
    return T


def _docs(spark, T, ids, **kw):
    return _frame(spark, [(i, T[i]) for i in ids], **kw)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory, T):
    """A read-only twin over docs 0..39."""
    return Twins(spark, tmp_path_factory.mktemp("base"), "idx",
                 _docs(spark, T, range(40)))


# ----------------------------------------- the screen's cases, both ways

def test_copies_and_near_dups_both_paths(spark, base, T):
    got = base.screen(_docs(spark, T, range(40, 80)))
    assert got.isdisjoint(range(40, 46))  # exact copies
    assert len(got & set(range(46, 52))) <= 1  # near-duplicates
    assert set(range(52, 80)) <= got


def test_empty_index_both_paths(spark, tmp_path, T):
    tw = Twins(spark, tmp_path, "idx", _frame(spark, []))
    assert tw.screen(_docs(spark, T, range(40)), update_index=True) == set(range(40))
    assert tw.screen(_docs(spark, T, range(40, 50))).isdisjoint(range(40, 46))
    assert tw.screen(_frame(spark, []), update_index=True) == set()


def test_duplicate_and_null_ids_both_paths(spark, tmp_path, T):
    """Rows of one id merge their shingle sets into one signature, and a
    duplicate id drops every row of it; a NULL id never joins the
    duplicate ids, so it survives even as an exact copy, and its band
    rows are stored with a NULL doc_id unless a non-NULL id shares the
    key."""
    tw = Twins(spark, tmp_path, "idx", _docs(spark, T, range(20)))
    rows = [(60, T[3]), (60, T[3].upper()), (61, T[61]), (61, T[61]),
            (62, T[62]), (62, T[5]), (None, T[4]), (None, T[63]),
            (63, T[63])]
    got = tw.screen(_frame(spark, rows), update_index=True)
    assert {61, 63, None} <= got and 60 not in got
    assert tw.screen(_frame(spark, rows), update_index=True) == {None}


def test_null_empty_and_short_texts_both_paths(spark, tmp_path, T):
    """A NULL text keys every band '' (its shingle hash is NULL); an
    empty or blank text and texts shorter than ``shingle_k`` hash one
    shingle of all their tokens."""
    tw = Twins(spark, tmp_path, "idx", _docs(spark, T, range(10)))
    rows = [(100, None), (101, ""), (102, "   "), (103, "one"),
            (104, "one two"), (105, "One  two"), (106, T[1]), (107, None)]
    assert tw.screen(_frame(spark, rows), update_index=True) == {
        100, 101, 102, 103, 104, 105, 107}
    assert tw.screen(_frame(spark, rows), update_index=True) == set()
    for k in (1, 2, 5):
        tw.screen(_frame(spark, rows + [(108, "one two three four")]),
                  shingle_k=k)


def test_non_ascii_case_and_whitespace_both_paths(spark, tmp_path, T):
    """Tabs and newlines are whitespace to the normaliser, NBSP and
    other Unicode spaces are not; case folding is Spark's ``lower``."""
    words = "the quick brown fox jumps over the lazy dog"
    stored = [(0, words), (1, "İstanbul straße ΣΊΣΥΦΟΣ café déjà vu naïve"),
              (2, "ÅNGSTRÖM Ǆungla ﬁnance Ωmega µ micro")]
    tw = Twins(spark, tmp_path, "idx", _frame(spark, stored))
    rows = [(10, words.replace(" ", "\t")), (11, words.replace(" ", "\n ")),
            (12, words.replace(" ", "\u00a0")), (13, words.replace(" ", "\u2009")),
            (14, words.upper()), (15, "İSTANBUL STRASSE σίσυφος CAFÉ DÉJÀ VU NAÏVE"),
            (16, "istanbul straße σίσυφος café déjà vu naïve"),
            (17, "ångström ǆungla ﬁnance ωmega µ micro"),
            (18, "\u3000".join(words.split())), (19, " \t" + words + "\r\n")]
    got = tw.screen(_frame(spark, rows), update_index=True)
    assert {12, 13, 18} <= got and got.isdisjoint({10, 11, 14, 19})
    tw.screen(_frame(spark, [(20 + i, t) for i, t in rows]), shingle_k=1)


def test_string_ids_both_paths(spark, tmp_path, T):
    tw = Twins(spark, tmp_path, "idx", _docs(spark, T, range(20), id_type="string"))
    rows = [("b", T[3]), ("a", T[3]), ("é", T[30]), ("Z", T[30]), ("", T[31]),
            (None, T[32])]
    got = tw.screen(_frame(spark, rows, id_type="string"), update_index=True)
    assert got == {"é", "Z", "", None}
    tw.screen(_docs(spark, T, range(28, 36), id_type="string"),
              update_index=True, append_scope="survivors")


@pytest.mark.parametrize("scope", ["all", "survivors"])
def test_append_scope_both_paths(spark, tmp_path, T, scope):
    tw = Twins(spark, tmp_path, "idx", _docs(spark, T, range(20)))
    # 46..51 are near-dups of 6..11; 52.. fresh
    tw.screen(_docs(spark, T, range(46, 60)), update_index=True,
              append_scope=scope)
    # 2-word edits of the rejected near-dups: transitively rejected
    # only when the rejected docs' keys were stored
    edits = [(200 + i, T[46 + i] + " more") for i in range(6)]
    tw.screen(_frame(spark, edits), update_index=True, append_scope=scope)
    # every arrival rejected: a survivors epoch with no part file
    tw.screen(_docs(spark, T, range(40, 46)), update_index=True,
              append_scope=scope)
    tw.screen(_docs(spark, T, range(0, 80, 3)), update_index=True,
              append_scope=scope, compact_after=3)
    tw.screen(_docs(spark, T, range(0, 80, 2)))


def test_compaction_and_snapshot_reloads(spark, tmp_path, T):
    """Compaction at K, and a snapshot that is reloaded after every
    append, every compaction and an rmtree + rebuild at the same path."""
    tw = Twins(spark, tmp_path, "idx", _docs(spark, T, range(10)))
    snaps = []

    def snap():
        return Sink.leaf_snapshot(tw.driver, "bands", ("band", "key"),
                                  D._load_band_keys, 1 << 30)

    for lo in range(10, 70, 10):
        tw.screen(_docs(spark, T, range(lo, lo + 10)), update_index=True,
                  compact_after=2)
        s = snap()
        assert s is not None and all(s is not p for p in snaps)
        assert snap() is s  # unchanged files: the cached snapshot
        snaps.append(s)
    assert Sink._committed_epochs(tw.driver)[1] is not None  # compacted
    assert tw.screen(_docs(spark, T, range(0, 70, 7))) == set()
    # rebuilt at the same paths over other docs
    for d in (tw.driver, tw.ref):
        shutil.rmtree(d)
        D.write_minhash_index(_docs(spark, T, range(60, 80)), d, n_buckets=4)
    assert tw.screen(_docs(spark, T, range(0, 20))) == set(range(20))
    assert snap() is not snaps[-1]


# ------------------------------------------------------------------- gate

def test_gate_sends_other_calls_to_spark(spark, base, T, tmp_path):
    rdd = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, T[i]) for i in range(40, 50)]),
        "doc_id long, text string")
    assert base.screen(rdd, expect="spark").isdisjoint(range(40, 46))
    with _conf(spark, THR, "1024"):  # the index files exceed it
        assert base.screen(_docs(spark, T, range(40, 42)), expect="spark") == set()
    dbl = _docs(spark, T, range(40, 50)).selectExpr(
        "CAST(doc_id AS DOUBLE) AS doc_id", "text")
    assert base.screen(dbl, expect="spark").isdisjoint(range(40, 46))
    # a streaming frame is refused before it is read
    _docs(spark, T, range(40, 50)).write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "in"))
    assert D._screen_on_driver(stream, spark, base.driver, "doc_id", "text",
                               3, 16, 8, False, "all", None) is None


def test_plan_reads_local_dup_ids_not_the_index(spark, base, T, tmp_path):
    """The driver path's result anti-joins the arriving scan with a
    LocalTableScan of the duplicate ids and reads no index file; the
    Spark path's reads the checkpointed signatures (ExistingRDD)."""
    _docs(spark, T, range(40, 60)).write.parquet(str(tmp_path / "in"))
    arriving = spark.read.parquet(str(tmp_path / "in"))
    got = D.incremental_minhash_new(arriving, spark, base.driver)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert all("idx-driver" not in f for f in got.inputFiles())
    with _conf(spark, THR, "-1"):
        ref = D.incremental_minhash_new(arriving, spark, base.ref)
        assert "ExistingRDD" in ref._jdf.queryExecution().executedPlan().toString()
        assert _rows(got) == _rows(ref)
