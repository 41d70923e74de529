"""Round-10 tests: operator-level MinHash band cap (VERDICT-r9 #1),
lm_stupid_backoff broadcast-threshold cut (#3), PPJoin positional
filter (#5), incremental MinHash index (#6), and the r9 ADVICE fixes
(sink schema-evolution consolidation guards, subset-leaves marker
safety, memo fingerprint mapping guards)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tubes_spark.operators import dedup


# --------------------------------------------------- operator band cap


def _expected_pairs(rows, cap, split_factor):
    """Pure-python ground truth for the capped candidate set given the
    collected (id, band, h, h2) band frame."""
    from collections import defaultdict
    from itertools import combinations

    groups = defaultdict(list)
    for r in rows:
        groups[(r["band"], r["h"])].append(r)
    pairs, fired = set(), False
    for (_, _), members in groups.items():
        if cap is not None and len(members) > cap:
            fired = True
            subs = defaultdict(list)
            for m in members:
                subs[m["h2"] % split_factor].append(m["doc_id"])
            buckets = subs.values()
        else:
            buckets = [[m["doc_id"] for m in members]]
        for ids in buckets:
            for a, b in combinations(sorted(set(ids)), 2):
                pairs.add((a, b))
    return pairs, fired


def _skewed_corpus(spark, n_hot=450, n_cold=40):
    """n_hot docs sharing ~300 shingles with ~50 unique words each:
    per-hash P(min = shared min) ~= 300/350, per-band (4 rows) ~= 0.54,
    so the modal (band, h) bucket holds ~240 > _cap docs while the
    docs' NEXT band hashes genuinely differ -> the split must fire and
    actually spread the bucket."""
    shared = " ".join(f"w{i}" for i in range(302))
    texts = [f"{shared} " + " ".join(f"u{d}x{j}" for j in range(50)) for d in range(n_hot)]
    texts += [" ".join(f"cold{d}y{j}" for j in range(60)) for d in range(n_cold)]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    return spark.createDataFrame(pdf)


def test_minhash_band_cap_recall_contract(spark):
    """The operator cap must (a) FIRE on a skewed corpus, (b) keep
    EXACTLY the pairs the documented contract promises — every pair
    agreeing on (band, h, pmod(h2, split)) kept, every dropped pair
    differing in the secondary key — checked against a pure-python
    reconstruction from the band frame itself, and (c) be a strict
    subset of the uncapped candidate set."""
    cap, split = 200, 16
    d = _skewed_corpus(spark)
    sh = dedup.shingle_frame(d, shingle_k=3).localCheckpoint(eager=True)

    banded = dedup.band_frame(sh, with_next=True).collect()
    want_capped, fired = _expected_pairs(banded, cap, split)
    want_uncapped, _ = _expected_pairs(banded, None, split)
    assert fired, "test corpus failed to overflow any (band, h) bucket"

    got_capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(d, shingles=sh, band_cap=cap, split_factor=split).collect()
    }
    got_uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(d, shingles=sh, band_cap=None).collect()
    }
    assert got_capped == want_capped
    assert got_uncapped == want_uncapped
    assert got_capped < got_uncapped  # cap dropped something, never added


def test_minhash_band_cap_noop_on_unskewed_corpus(spark):
    """At gate SFs no (band, h) bucket approaches the cap, so the
    default-on cap must be output-identical to band_cap=None on the
    real test corpus (the rows-only battery queries keep their
    semantics)."""
    from tubes_spark.catalog import load_table

    d = load_table(spark, "documents", SF_SMALL)
    sh = dedup.shingle_frame(d).localCheckpoint(eager=True)
    capped = {
        (r["id_a"], r["id_b"]) for r in dedup.minhash_candidates(d, shingles=sh).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(d, shingles=sh, band_cap=None).collect()
    }
    assert capped == uncapped


# --------------------------------------------------- gate-prefix guard


def test_gate_prefix_leads_with_never_sampled_keys():
    """The driver's correctness gate samples the FIRST 50 dict keys;
    round-13's contract (VERDICT-r12 #2) is the 14-key deferred-r7
    alphabetical tail, then the 4 queries added after the r12 prefix
    froze (never yet holding a driver row), then the 32
    alphabetically-first round-8-stale keys.  Pin the ordering so an
    accidental dict edit can't silently reshuffle the gate plan."""
    import __spark_entry__ as E

    keys = list(E.queries())
    assert keys[0] == "running_user_avg"  # r7 tail, alphabetical head
    assert keys[13] == "tumbling_hourly"
    assert keys[14:18] == [
        "ann_kmeans_semantic_dedup",
        "ann_nprobe_boundary_recall",
        "ann_incremental_survivors",
        "streaming_ann_incremental_dedup",
    ]
    assert keys[18] == "ann_radius_neighbors"  # r8 cohort, alpha head
    assert keys[49] == "semantic_dedup_survivors"  # 32nd r8 key closes it
    assert keys[50] == "sketch_distinct_users"  # r8 tail heads r14
    assert len(set(keys[:50])) == 50


# ---------------------------------------------- ADVICE r9: sink guards


def _write_two_leaf_epochs(spark, g, n_epochs=2):
    from pyspark.sql import functions as F

    from tubes_spark.sink import _CURRENT_EPOCH, Sink

    sink = Sink.atomic_parquet_group(g, {"a": None, "b": None})
    for ep in range(n_epochs):
        df = spark.range(ep * 10, ep * 10 + 10).withColumn("u", F.col("id") % 4)
        token = _CURRENT_EPOCH.set(ep)
        try:
            sink(df)
        finally:
            _CURRENT_EPOCH.reset(token)


def test_delete_rows_atomic_subset_leaves_keeps_group_readable(spark, tmp_path):
    """ADVICE r9: a `leaves` subset used to publish a group-wide marker
    naming a directory only the rewritten leaves had — reads of every
    OTHER leaf then resolved a nonexistent dir and failed.  Now the
    untouched leaves are consolidated content-identically in the same
    run: after a subset delete, BOTH leaves read, the named leaf is
    scrubbed, the other is bit-identical to its pre-delete content."""
    from tubes_spark.sink import Sink

    g = str(tmp_path / "grp")
    _write_two_leaf_epochs(spark, g)
    before_b = sorted(r["id"] for r in Sink.read_atomic_group(spark, g, "b").collect())

    deleted = Sink.delete_rows_atomic(spark, g, "u = 1", leaves=["a"])
    assert deleted == {"a": 5}

    got_a = sorted(r["id"] for r in Sink.read_atomic_group(spark, g, "a").collect())
    got_b = sorted(r["id"] for r in Sink.read_atomic_group(spark, g, "b").collect())
    assert got_a == [i for i in range(20) if i % 4 != 1]
    assert got_b == before_b


def test_compact_to_latest_subset_leaves_keeps_group_readable(spark, tmp_path):
    """Same marker-safety property for the CoW compaction: a subset
    rewrite must leave every leaf resolvable and the untouched leaf's
    full epoch log intact."""
    from tubes_spark.sink import Sink

    g = str(tmp_path / "grp")
    _write_two_leaf_epochs(spark, g)
    before_b = sorted(r["id"] for r in Sink.read_atomic_group(spark, g, "b").collect())

    kept = Sink.compact_to_latest(spark, g, ["id"], leaves=["a"])
    assert set(kept) == {"a"}

    got_a = sorted(r["id"] for r in Sink.read_atomic_group(spark, g, "a").collect())
    got_b = sorted(r["id"] for r in Sink.read_atomic_group(spark, g, "b").collect())
    assert got_a == list(range(20))  # distinct ids: latest-wins is identity here
    assert got_b == before_b


def test_delete_rows_atomic_unknown_leaf_rejected(spark, tmp_path):
    from tubes_spark.sink import Sink

    g = str(tmp_path / "grp")
    _write_two_leaf_epochs(spark, g)
    with pytest.raises(ValueError, match="unknown leaves"):
        Sink.delete_rows_atomic(spark, g, "u = 1", leaves=["nope"])


def _write_evolved_group(spark, g):
    """Epoch 0 has (id, u); epoch 1 additionally carries `extra`."""
    from pyspark.sql import functions as F

    from tubes_spark.sink import _CURRENT_EPOCH, Sink

    sink = Sink.atomic_parquet_group(g, {"a": None})
    frames = [
        spark.range(0, 10).withColumn("u", F.col("id") % 4),
        spark.range(10, 20)
        .withColumn("u", F.col("id") % 4)
        .withColumn("extra", F.col("id") * 2),
    ]
    for ep, df in enumerate(frames):
        token = _CURRENT_EPOCH.set(ep)
        try:
            sink(df)
        finally:
            _CURRENT_EPOCH.reset(token)


@pytest.mark.parametrize("op", ["delete", "compact", "compact_latest"])
def test_consolidation_refuses_schema_divergence_without_opt_in(spark, tmp_path, op):
    """ADVICE r9: consolidating a schema-evolved group with first-footer
    semantics silently dropped the columns later epochs introduced, and
    purge/gc then deleted the only copy.  Every consolidating op must
    now REFUSE on divergence unless evolve_schema=True — and with the
    opt-in the evolved column survives the rewrite (NULL-filled for
    pre-evolution epochs)."""
    from tubes_spark.sink import Sink

    g = str(tmp_path / "grp")
    _write_evolved_group(spark, g)

    def run(evolve):
        if op == "delete":
            return Sink.delete_rows_atomic(spark, g, "u = 1", evolve_schema=evolve)
        if op == "compact":
            return Sink.compact_atomic_group(spark, g, gc=True, evolve_schema=evolve)
        return Sink.compact_to_latest(spark, g, ["id"], evolve_schema=evolve)

    with pytest.raises(ValueError, match="schema divergence"):
        run(False)
    # nothing was rewritten or purged by the refusal: strict read still works
    assert Sink.read_atomic_group(spark, g, "a").count() == 20

    run(True)
    out = Sink.read_atomic_group(spark, g, "a", evolve_schema=True)
    assert "extra" in out.columns
    rows = {r["id"]: r["extra"] for r in out.collect()}
    assert rows[15] == 30 and rows[2] is None
    if op == "delete":
        assert all(i % 4 != 1 or i not in rows for i in range(20))


def test_simhash_band_cap_exact_dups_stay_colocated(spark):
    """The opt-in simhash cap splits oversized (band, chunk) buckets on
    pmod(signature, 16): EQUAL signatures (exact dups) share every
    chunk AND the salt, so all their pairs survive; with the cap off
    the result is the documented exact pigeonhole set."""
    import pandas as pd

    texts = [f"shared boilerplate body copy {i % 3}" for i in range(120)]
    d = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    sh = dedup.shingle_frame(d, shingle_k=2)
    sig = sh.select("doc_id", dedup.simhash_from_hashes(F.col("hs"), 32).alias("__sh__"))
    sig = sig.localCheckpoint(eager=True)
    exact = {
        (r["id_a"], r["id_b"]) for r in dedup.simhash_candidates(sig, 2).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_candidates(sig, 2, band_cap=10).collect()
    }
    # equal-signature pairs (the three 40-doc dup families) all survive
    sigs = {r["doc_id"]: r["__sh__"] for r in sig.collect()}
    from itertools import combinations

    equal_pairs = {
        (a, b) for a, b in combinations(sorted(sigs), 2) if sigs[a] == sigs[b]
    }
    assert equal_pairs <= capped
    assert capped <= exact


# ------------------------------------------- PPJoin positional filter


def test_ppjoin_filters_prune_impossible_pairs_keep_true_ones(spark, tmp_path):
    """VERDICT-r9 #5: docs sharing one rare prefix shingle but unable to
    reach J>=0.8 (length-incompatible, or the shared shingle sits where
    the positional bound refutes the pair) must NOT reach verification
    cost, while every true >=0.8 pair must survive the filters — checked
    by comparing the query's output against a brute-force all-pairs
    Jaccard on the same corpus."""
    from itertools import combinations

    rare = "zq1 zq2 zq3 zq4 zq5"  # one shared 5-shingle across all docs
    texts = {}
    # true near-dup pair: long docs differing in one token
    base = " ".join(f"w{i}" for i in range(60))
    texts[0] = f"{rare} {base}"
    texts[1] = f"{rare} {base} extra"
    # length-incompatible doc sharing the rare shingle
    texts[2] = f"{rare} a b c"
    # same-length doc sharing ONLY the rare shingle (overlap 1)
    texts[3] = f"{rare} " + " ".join(f"v{i}" for i in range(60))
    pdf = pd.DataFrame({"doc_id": list(texts), "text": [texts[k] for k in texts]})
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")

    from tubes_spark import queries as Q

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in Q.jaccard_exact_prefix_join(spark, str(sf)).collect()
    }

    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}

    truth = {}
    for a, b in combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= 0.8:
            truth[(a, b)] = round(j, 6)
    assert set(got) == set(truth), (got, truth)
    assert truth, "corpus lost its true near-dup pair"
    for k, v in truth.items():
        assert got[k] == v


# ---------------------------------------------- ADVICE r9: memo guards


def test_input_fingerprint_zero_row_file_matches_content(spark, tmp_path):
    """A zero-row parquet file carries no rows through the
    input_file_name() grouping; its digest must still be correct (0,0,0
    verified by reading the file, not assumed) and the combined
    fingerprint must equal content_fingerprint of the whole input."""
    from tubes_spark.memo import content_fingerprint, input_fingerprint

    d = tmp_path / "in"
    d.mkdir()
    spark.range(0, 5).toPandas().to_parquet(d / "a.parquet")
    spark.range(0, 0).toPandas().to_parquet(d / "empty.parquet")
    fp = input_fingerprint(spark, str(d), str(tmp_path / "cache.json"))
    assert fp == content_fingerprint(spark.read.parquet(str(d)))


def test_input_fingerprint_special_char_filename_not_zeroed(spark, tmp_path):
    """ADVICE r9: a filename whose URI form differs from its os.walk
    relpath must NOT silently cache a zero digest — the single-file
    fallback scan recovers the exact per-file digest, so the combined
    fingerprint equals content_fingerprint and CHANGES when that file
    changes."""
    from tubes_spark.memo import content_fingerprint, input_fingerprint

    d = tmp_path / "in"
    d.mkdir()
    spark.range(0, 5).toPandas().to_parquet(d / "plain.parquet")
    weird = d / "we ird#%file.parquet"
    spark.range(10, 20).toPandas().to_parquet(weird)
    cache = str(tmp_path / "cache.json")
    fp = input_fingerprint(spark, str(d), cache)
    assert fp == content_fingerprint(spark.read.parquet(str(d)))
    # and the cached digest is live: changing the weird file moves the fp
    import os as _os
    import time as _time

    spark.range(10, 21).toPandas().to_parquet(weird)
    _os.utime(weird, ns=(_time.time_ns(), _time.time_ns()))
    fp2 = input_fingerprint(spark, str(d), cache)
    assert fp2 != fp
    assert fp2 == content_fingerprint(spark.read.parquet(str(d)))


def test_input_fingerprint_schema_evolution_uses_full_path_set(spark, tmp_path):
    """ADVICE r9: when schema evolution invalidates the cache, the
    canonical column set must be re-derived from ALL files — the digest
    stays bit-identical to content_fingerprint of the whole input even
    when the newly-arrived (stale) files carry a different column set
    than the old ones."""
    import pandas as pd

    from tubes_spark.memo import content_fingerprint, input_fingerprint

    d = tmp_path / "in"
    d.mkdir()
    pd.DataFrame({"id": [1, 2], "x": [10, 20]}).to_parquet(d / "old.parquet")
    cache = str(tmp_path / "cache.json")
    input_fingerprint(spark, str(d), cache)  # build the cache on (id, x)
    # a new file arrives with an extra column -> invalidation path
    pd.DataFrame({"id": [3], "x": [30], "y": [7]}).to_parquet(d / "new.parquet")
    fp = input_fingerprint(spark, str(d), cache)
    assert fp == content_fingerprint(spark.read.parquet(str(d)))


# ------------------------------------------- incremental minhash index


def test_incremental_minhash_reads_no_old_document_text(spark, tmp_path):
    """VERDICT-r9 #6: the incremental run must read ONLY the arriving
    batch and the persisted band index — the old corpus's parquet is
    absent from every scan in the executed plan.  Old and arriving
    corpora live in separate directories so the property is provable
    from scan locations; survivors are checked against a band-collision
    reconstruction, and the index-update epoch must land atomically."""
    old_dir = str(tmp_path / "old_docs")
    arr_dir = str(tmp_path / "arriving_docs")
    idx_dir = str(tmp_path / "mh_index")

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    old_pd = pd.DataFrame(
        {
            "doc_id": range(20),
            "text": [base + f" tail{i}" if i < 10 else f"unique old doc {i} " + " ".join(f"o{i}w{j}" for j in range(12)) for i in range(20)],
        }
    )
    # arriving: 5 near-dups of the shared base (collide with old), 10 fresh
    arr_pd = pd.DataFrame(
        {
            "doc_id": range(100, 115),
            "text": [base + f" tail{i}" for i in range(5)]
            + [f"fresh arriving doc {i} " + " ".join(f"a{i}w{j}" for j in range(12)) for i in range(10)],
        }
    )
    spark.createDataFrame(old_pd).write.parquet(old_dir)
    spark.createDataFrame(arr_pd).write.parquet(arr_dir)

    dedup.write_minhash_index(spark.read.parquet(old_dir), idx_dir, epoch=0)

    arriving = spark.read.parquet(arr_dir)
    # a small batch and index are screened on the driver: the result
    # reads the arriving batch only (the index through its snapshot)
    probe = dedup.incremental_minhash_new(arriving, spark, idx_dir)
    files = probe.inputFiles()
    assert files and all("arriving_docs" in f for f in files), files
    # the Spark screen (broadcasts off), which appends the next epoch
    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        out = dedup.incremental_minhash_new(
            arriving, spark, idx_dir, update_index=True
        )
        # inputFiles() walks every FileIndex in the plan (explain strings
        # truncate locations): the incremental lineage touches the
        # arriving batch and the stored index, never the old corpus
        files = out.inputFiles()
    finally:
        spark.conf.set(thr, prev)
    assert files, "expected file-backed scans in the incremental plan"
    assert all("old_docs" not in f for f in files), files
    assert any("arriving_docs" in f for f in files), files
    assert any("mh_index" in f for f in files), files
    assert {r["doc_id"] for r in probe.collect()} == {
        r["doc_id"] for r in out.collect()
    }

    got = {r["doc_id"] for r in out.collect()}
    # ground truth from the band frames themselves
    ob = {(r["band"], r["key"]) for r in dedup.arith_minhash_bands(spark.read.parquet(old_dir)).collect()}
    ab = dedup.arith_minhash_bands(arriving).collect()
    colliding = {r["doc_id"] for r in ab if (r["band"], r["key"]) in ob}
    assert got == set(arr_pd["doc_id"]) - colliding
    assert colliding, "test corpus produced no cross-batch collisions"

    # the maintenance epoch appended atomically: epoch 1 committed and
    # the stored index now covers the full old + arriving band-key SET.
    # r11 layout: band rows are pre-deduped per epoch — one row per
    # (band, key) with the smallest doc_id as deterministic witness —
    # so near-dup docs that share every band key with a smaller-id doc
    # no longer contribute rows (the (band, key) SET, which is what
    # every incremental decision reads, is unchanged).
    from tubes_spark.sink import Sink

    epochs, _, _ = Sink._committed_epochs(idx_dir)
    assert epochs == [0, 1]
    stored = Sink.read_atomic_group(spark, idx_dir, "bands")
    stored_keys = {(r["band"], r["key"]) for r in stored.select("band", "key").collect()}
    assert stored_keys == ob | {(r["band"], r["key"]) for r in ab}
    # within each epoch (band, key) is unique and the witness is the min id
    per_epoch = stored.groupBy("epoch", "band", "key").count().filter("count > 1")
    assert per_epoch.count() == 0
    by_key0 = {(r["band"], r["key"]): r["doc_id"] for r in stored.filter("epoch = 0").collect()}
    truth0 = {}
    for r in dedup.arith_minhash_bands(spark.read.parquet(old_dir)).collect():
        kk = (r["band"], r["key"])
        truth0[kk] = min(truth0.get(kk, r["doc_id"]), r["doc_id"])
    assert by_key0 == truth0


def test_minhash_index_compaction_preserves_incremental_results(spark, tmp_path):
    """The signature index is an ordinary atomic group, so the
    small-files answer applies to it too: after compact_atomic_group
    (gc=True — per-epoch dirs physically gone) the incremental check
    returns the SAME survivors, and the next maintenance epoch still
    appends cleanly on top of the compaction point."""
    from tubes_spark.sink import Sink

    idx_dir = str(tmp_path / "idx")
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    day0 = pd.DataFrame({"doc_id": range(10), "text": [base + f" t{i}" for i in range(10)]})
    day1 = pd.DataFrame(
        {"doc_id": range(100, 110), "text": [f"second day doc {i} " + " ".join(f"d{i}x{j}" for j in range(10)) for i in range(10)]}
    )
    arriving = pd.DataFrame(
        {
            "doc_id": range(200, 206),
            "text": [base + " t3", "second day doc 105 " + " ".join(f"d105x{j}" for j in range(10))]
            + [f"fresh {i} " + " ".join(f"f{i}y{j}" for j in range(10)) for i in range(4)],
        }
    )
    dedup.write_minhash_index(spark.createDataFrame(day0), idx_dir, epoch=0)
    dedup.write_minhash_index(spark.createDataFrame(day1), idx_dir, epoch=1)
    arr = spark.createDataFrame(arriving)

    before = {r["doc_id"] for r in dedup.incremental_minhash_new(arr, spark, idx_dir).collect()}
    k = Sink.compact_atomic_group(spark, idx_dir, gc=True)
    assert k == 1
    after = {r["doc_id"] for r in dedup.incremental_minhash_new(arr, spark, idx_dir).collect()}
    assert after == before
    assert before < set(arriving["doc_id"]), "expected some collisions vs the index"

    # maintenance append still lands on top of the compaction point
    out = dedup.incremental_minhash_new(arr, spark, idx_dir, update_index=True)
    out.count()
    epochs, k2, _ = Sink._committed_epochs(idx_dir)
    assert 2 in epochs and k2 == 1
    ids = {r["doc_id"] for r in Sink.read_atomic_group(spark, idx_dir, "bands").select("doc_id").distinct().collect()}
    assert set(arriving["doc_id"]) <= ids


def test_lm_backoff_tertile_cut_is_broadcast_threshold(spark):
    """VERDICT-r9 #3: the tertile cut must be percentile thresholds
    broadcast from a 1-row aggregate — the plan carries NO window (the
    old global ntile planned Exchange SinglePartition over every
    per-doc row) and shows the map-side partial_percentile combine; the
    only SinglePartition exchange left moves pre-combined aggregate
    buffers, never rows through a sort."""
    from tubes_spark import queries as Q
    from tubes_spark.plans import plan_of

    import re

    p = plan_of(Q.lm_stupid_backoff_filter(spark, SF_SMALL))
    assert "Window" not in p, p
    assert not re.search(r"\bntile\b", p), p  # \b: 'percentile' contains 'ntile'
    assert "partial_percentile" in p, p
    assert "Sort" not in p.split("== Physical Plan ==")[-1].split("(1) Scan")[0], p


def test_minhash_band_cap_single_band_degenerates_gracefully(spark):
    """bands == 1 has no backup band: h2 == h, every member of a bucket
    gets the same salt, and the cap must keep the bucket intact (no
    silent recall loss where no other band can re-find the pair)."""
    d = _skewed_corpus(spark, n_hot=250, n_cold=0)
    sh = dedup.shingle_frame(d).localCheckpoint(eager=True)
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(
            d, shingles=sh, num_hashes=4, bands=1, band_cap=10
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(
            d, shingles=sh, num_hashes=4, bands=1, band_cap=None
        ).collect()
    }
    assert capped == uncapped
