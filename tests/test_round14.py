"""Round-14 pins.

1. BIT parity of the SQL-string ANN expression kernels with the numpy
   fold reference, and of the MinHash band builder's SQL form with its
   helper (VERDICT r13 #6): the r13 optimization rendered hot
   expression trees as SQL strings; these tests pin their values byte
   for byte, so a regexp/repr edge introduced by a future edit of the
   ``_sql_*`` helpers cannot ship a silent value change.

2. The tmpfs spark.local.dir guard (VERDICT r13 #5 / ADVICE r13):
   explicit opt-out, headroom fallback, foreign-owned-path refusal.
"""

import os
import struct

import pytest
from pyspark.sql import functions as F

from tubes_spark.operators import dedup, similarity, text


def _seeded_vectors(spark, n=64, dims=8):
    """Deterministic float vectors with varied magnitudes/signs —
    exercises repr() round-tripping of non-trivial doubles."""
    rows = []
    for i in range(n):
        vec = [
            ((i * 31 + j * 17) % 97 - 48) / 7.0 + (j + 1) * 1e-3 * (i % 5)
            for j in range(dims)
        ]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _seeded_anchors(k=6, dims=8):
    return [
        [((a * 13 + j * 29) % 83 - 41) / 9.0 + 1e-4 * a for j in range(dims)]
        for a in range(k)
    ]


def test_sql_ann_expr_bits_match_numpy_fold(spark):
    """The SQL-rendered ANN expressions against the numpy fold
    reference (``similarity._fold_sum``): identical cells, probe lists
    and score BITS, with the norm hoisted or inlined."""
    import numpy as np

    anchors = _seeded_anchors()
    vecs = _seeded_vectors(spark)
    nv = similarity._sql_norm("embedding")
    sql_form = vecs.select(
        "vec_id",
        F.expr(similarity._sql_cell_expr("embedding", anchors, nv)).alias("cell"),
        F.expr(
            similarity._sql_probe_cells("embedding", anchors, 3, nv)
        ).alias("probes"),
        F.expr(similarity._sql_anchor_cos("embedding", anchors[0], nv)).alias(
            "score0"
        ),
        F.expr(similarity._sql_anchor_cos("embedding", anchors[0], None)).alias(
            "inline0"
        ),
        F.expr(nv).alias("nv"),
    )
    rows = {r["vec_id"]: r for r in sql_form.collect()}
    ids = sorted(rows)
    m = np.array([[float(x) for x in r["embedding"]] for r in
                  vecs.orderBy("vec_id").collect()])
    ref_nv = similarity._np_norm(m)
    scores, _ = similarity._np_anchor_scores(m, ref_nv, anchors)
    probes = similarity._np_probe_cells(scores, np.zeros(scores.shape, bool), 3)
    assert [rows[i]["cell"] for i in ids] == scores.argmax(axis=1).tolist()
    assert [list(rows[i]["probes"]) for i in ids] == probes.tolist()
    # raw score BITS (struct.pack): the strongest claim — the SQL literal
    # path and the numpy fold produce the exact same IEEE doubles
    for col, ref in (("nv", ref_nv), ("score0", scores[:, 0]),
                     ("inline0", scores[:, 0])):
        assert [struct.pack("<d", rows[i][col]) for i in ids] == [
            struct.pack("<d", x) for x in ref.tolist()
        ], col


def test_sql_double_literal_roundtrip(spark):
    """repr()+'D' must parse back to the exact IEEE double for the
    awkward cases: subnormals, integer-valued floats, long fractions,
    negative zero."""
    cases = [
        0.1, -0.1, 1.0, -1.0, 0.0, -0.0, 1e-300, -1e300, 2.2250738585072014e-308,
        3.141592653589793, 1 / 3, 2**53 + 0.0, 1e16 + 2.0, 5e-324,
    ]
    exprs = [
        F.expr(similarity._sql_double(v)).alias(f"c{i}")
        for i, v in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).first()
    for i, v in enumerate(cases):
        got = row[f"c{i}"]
        assert struct.pack("<d", got) == struct.pack("<d", v), (i, v, got)


def test_minhash_band_sql_vs_helper_parity(spark):
    """The SQL-rendered arith_minhash_bands vs the same plan built from
    the Column helpers (normalize/word_shingles_from_tokens/
    arith_shingle_hash) — band keys byte-for-byte identical."""
    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "the quick  Brown fox JUMPS over the lazy dog"),
            (3, "pack my box with five dozen liquor jugs"),
            (4, "sphinx of black quartz judge my vow"),
            (5, "two"),
            (6, ""),
            (7, "a b c d e f g h i j k l m n o p"),
        ],
        "doc_id long, text string",
    )
    num_hashes, bands, k = 16, 8, 3
    rows = num_hashes // bands
    fam = dedup.arith_hash_family(num_hashes)

    sql_rows = sorted(
        tuple(r)
        for r in dedup.arith_minhash_bands(
            docs, num_hashes=num_hashes, bands=bands, shingle_k=k
        ).collect()
    )

    toks = docs.select(
        "doc_id", F.split(text.normalize(F.col("text")), " ").alias("toks")
    )
    ex = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.word_shingles_from_tokens(F.col("toks"), k))
        ).alias("sh"),
    ).select("doc_id", dedup.arith_shingle_hash(F.col("sh")).alias("x"))
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(dedup.ARITH_P)).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(fam)
        ]
    )
    keyed = mins.select(
        "doc_id",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"m{bnd * rows + r}").cast("string")
                                for r in range(rows)
                            ],
                        ).alias("key"),
                    )
                    for bnd in range(bands)
                ]
            )
        ),
    )
    helper_rows = sorted(tuple(r) for r in keyed.collect())
    assert sql_rows == helper_rows


def test_tmpfs_local_dir_guard(tmp_path):
    from tubes_spark.session import _resolve_local_dir

    env_keys = ("TUBES_SPARK_LOCAL_DIR", "TUBES_SPARK_TMPFS_MIN_FREE_BYTES")
    saved = {k: os.environ.get(k) for k in env_keys}
    try:
        # explicit opt-out: empty string or 'default' keeps Spark's own
        # spark.local.dir (ADVICE r13 — there was no opt-out before)
        os.environ.pop("TUBES_SPARK_TMPFS_MIN_FREE_BYTES", None)
        os.environ["TUBES_SPARK_LOCAL_DIR"] = ""
        assert _resolve_local_dir() == ""
        os.environ["TUBES_SPARK_LOCAL_DIR"] = "default"
        assert _resolve_local_dir() == ""
        # explicit path wins verbatim
        p = str(tmp_path / "ldir")
        os.environ["TUBES_SPARK_LOCAL_DIR"] = p
        assert _resolve_local_dir() == p and os.path.isdir(p)
        # headroom guard: a tmpfs smaller than the floor forces the
        # fallback to Spark's default (VERDICT r13 #5 — tmpfs shuffle
        # must not engage where spill could exhaust RAM-backed storage)
        del os.environ["TUBES_SPARK_LOCAL_DIR"]
        os.environ["TUBES_SPARK_TMPFS_MIN_FREE_BYTES"] = str(1 << 62)
        assert _resolve_local_dir() == ""
        del os.environ["TUBES_SPARK_TMPFS_MIN_FREE_BYTES"]
        resolved = _resolve_local_dir()
        if resolved:  # host has /dev/shm with headroom
            assert f"uid{os.getuid()}" in resolved
            st = os.stat(resolved)
            assert st.st_uid == os.getuid()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


@pytest.mark.skipif(os.getuid() != 0, reason="needs root to chown")
def test_tmpfs_foreign_owned_path_refused():
    """A pre-planted foreign-owned per-uid directory is refused (ADVICE
    r13: sticky world-writable /dev/shm means another user can own the
    path; makedirs(exist_ok=True) would silently succeed)."""
    from tubes_spark.session import _resolve_local_dir

    cand = f"/dev/shm/tubes_spark_local_uid{os.getuid()}"
    if not os.path.isdir("/dev/shm"):
        pytest.skip("no /dev/shm")
    saved = os.environ.get("TUBES_SPARK_LOCAL_DIR")
    existed = os.path.isdir(cand)
    st_before = os.stat(cand) if existed else None
    try:
        os.environ.pop("TUBES_SPARK_LOCAL_DIR", None)
        os.makedirs(cand, mode=0o700, exist_ok=True)
        os.chown(cand, 12345, 12345)  # simulate a foreign owner
        assert _resolve_local_dir() == ""
    finally:
        # restore ownership so the session factory keeps working
        os.chown(cand, os.getuid(), os.getgid())
        if st_before is not None:
            os.chmod(cand, st_before.st_mode & 0o777)
        if saved is not None:
            os.environ["TUBES_SPARK_LOCAL_DIR"] = saved
