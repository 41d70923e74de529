"""Deduplication operators for LLM-data pipelines (north-star).

Four tiers, all shuffle-frugal:

* exact       — groupBy(hash of canonical text): one shuffle.
* minhash+LSH — shingle -> k minhashes -> b bands; identical band
                signature -> candidate pair: shuffles on tiny band keys
                only, never all-pairs.  (Broder 1997 resemblance / LSH
                banding as in MMDS ch.3.)
* simhash     — 64-bit hypercube signature; duplicates = equal simhash
                (or small hamming radius via rotations).
* n-gram Jaccard — exact verify step on LSH candidates.

Everything below is built-in Column expressions (xxhash64, transform,
aggregate); no Python in the hot path — except the screen of a small
persisted MinHash index (:func:`incremental_minhash_new`).  When the
arriving batch's plan-estimated size and the live ``bands`` files both
fit under the session's ``spark.sql.autoBroadcastJoinThreshold`` (-1
disables it), that screen runs on the driver against a cached snapshot
of the live (band, key) set: one Spark projection yields the shingle
hashes (every string rule stays Spark's), integer numpy the minima and
band keys, the duplicate ids are a local relation, and the appended band
rows are written as bucket files from the driver
(:meth:`Sink._write_bucket_files`).  Survivors and stored rows are
identical to the Spark plan, which stays the path for everything else.
At ingest-sized batches the Spark plan's fixed coordination cost
dominates (the Drizzle point); at the largest size measured the two
paths tie — on 4 cores, warm JVM, ``update_index=True`` plus a count of
the survivors, 3 runs each: 500 docs against a 0.6 MiB index took
0.36-0.48 s on the driver (0.73-0.81 s when the append still went
through Spark's writer) and 1.29-1.48 s in Spark; 20,000 docs (plan
estimate 11.2 MiB) against 4.5 MiB, 1.91-2.16 s (2.72-2.88 s) and
2.71-2.82 s; 80,000 docs (44.3 MiB) against 18.4 MiB, 7.47-8.44 s
(9.68-10.21 s) and 7.65-8.00 s.

BEHAVIOR CHANGES (r10/r11, ADVICE-r10 notes):

* ``minhash_candidates`` ships with ``band_cap=200`` ON BY DEFAULT
  since r10: oversized LSH buckets split on a next-band-hash salt, so
  on a heavily skewed corpus a pair agreeing on ONLY one band inside
  an over-cap bucket can be missed.  Verified output-identical on the
  gate corpora, but external callers on boilerplate-heavy corpora get
  the bounded-cost (slightly lossy) behavior implicitly — pass
  ``band_cap=None`` for the exhaustive pre-r10 semantics.
  ``simhash_candidates`` keeps the cap OPT-IN (default None) because
  its pigeonhole banding carries an exactness contract.
* The persisted incremental index (``write_minhash_index`` /
  ``incremental_minhash_new``) records band rows for ALL checked docs,
  including rejected near-dups (transitive rejection — see the
  function docstring), and since r11 stores them bucketed on
  (band, key), pre-deduped per epoch.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tubes_spark.operators.text import normalize, word_shingles


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per canonical text.  One shuffle on
    the 64-bit content hash (not the full text — narrow shuffle rows)."""
    h = F.xxhash64(normalize(F.col(text_col)))
    w = Window.partitionBy("__h__").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__h__", h)
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__h__", "__rn__")
    )


def lsh_bands(sig: Column, bands: int, rows: int, with_next: bool = False) -> Column:
    """Split a k=bands*rows signature into band hashes -> array<struct<band,int h:long>>.

    ``with_next`` additionally emits ``h2`` = the NEXT band's hash
    (cyclic), the secondary blocking key the band-size cap splits
    oversized buckets on (see :func:`minhash_candidates`).  Computed
    inside the same struct so it costs one more codegen'd projection,
    not a join."""
    def bh(b: int) -> Column:
        return F.xxhash64(F.concat_ws(",", *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)]))

    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                bh(b).alias("h"),
                *([bh((b + 1) % bands).alias("h2")] if with_next else []),
            )
            for b in range(bands)
        ]
    )


def shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, hs: distinct 64-bit shingle hashes), repartitioned for
    compute parallelism.

    Shingle strings are never materialized: each token is hashed once,
    then a k-shingle's hash is xxhash64 over the k token hashes (fixed
    8-byte inputs) — vs. building/slicing/joining every shingle string,
    this cuts the dominant string-allocation cost of the whole dedup
    path.  The repartition matters even on small inputs: a single
    parquet file arrives as ONE partition and the signature math would
    run on one core; at 100 TB the same holds per-file — always spread
    CPU-bound narrow work across the cluster before computing."""
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    k = shingle_k
    toks = F.col("toks")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    # rolling k-window over token hashes (last token repeated for docs
    # shorter than k, so every doc has >= 1 shingle)
    def sh_hash(ths: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(ths) - (k - 1), F.lit(1)))
        return F.transform(
            idx, lambda i: F.xxhash64(*[F.element_at(ths, F.least(i + j, F.size(ths))) for j in range(k)])
        )
    return (
        df.select(F.col(id_col), F.split(normalize(F.col(text_col)), " ").alias("toks"))
        .repartition(n_parts, F.col(id_col))
        .select(F.col(id_col), th.alias("th"))
        .select(F.col(id_col), F.array_distinct(sh_hash(F.col("th"))).alias("hs"))
    )


def band_frame(
    base: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 1337,
    with_next: bool = False,
) -> DataFrame:
    """(id, band, h) LSH band keys from a shingle frame.

    Signature via explode + 64 codegen'd hash projections + hash-agg
    min: higher-order-function lambdas (transform/aggregate) run
    interpreted, so the array formulation is ~10x slower; this shape is
    whole-stage codegen end-to-end and map-side combines before the one
    shuffle.  The result is localCheckpointed: any LSH join reads it
    from both sides, and without materialization the whole signature
    pipeline would run twice (no ReusedExchange across a self-join) —
    and it is tiny, 3 int columns."""
    rows = num_hashes // bands
    tok = base.select(F.col(id_col), F.explode("hs").alias("h"))
    mins = tok.groupBy(id_col).agg(
        *[F.min(F.xxhash64(F.col("h"), F.lit(seed + i))).alias(f"m{i}") for i in range(num_hashes)]
    )
    sh = mins.select(
        F.col(id_col), F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )
    banded = sh.select(
        F.col(id_col), F.explode(lsh_bands(F.col("sig"), bands, rows, with_next)).alias("b")
    ).select(
        F.col(id_col),
        F.col("b.band").alias("band"),
        F.col("b.h").alias("h"),
        *([F.col("b.h2").alias("h2")] if with_next else []),
    )
    return banded.localCheckpoint(eager=True)


def cross_corpus_flags(
    df: DataFrame,
    reference_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate DECONTAMINATION: flag corpus documents whose
    shingle-set Jaccard against any document in a (small) reference
    corpus — an eval/benchmark suite — reaches the threshold.  The
    fuzzy complement of exact n-gram-overlap decontamination: catches
    lightly-reworded benchmark leaks that share no verbatim 5-gram.

    `reference_ids` is a one-column frame of `id_col` values naming the
    reference subset of `df` (reference docs are excluded from the
    output).  Returns (id, max_jaccard, n_matches) per contaminated
    corpus doc.

    Scale shape: band keys are computed ONCE over the combined corpus
    (one shuffle); the reference side of the band join and the
    membership splits all ride BROADCAST (an eval suite is MBs against
    a 100 TB corpus), so corpus bands never shuffle again.  The exact
    Jaccard verify touches only candidate pairs."""
    ref = F.broadcast(reference_ids.select(id_col).distinct())
    sh = shingle_frame(df, text_col, id_col, shingle_k).persist()
    banded = band_frame(sh, id_col, num_hashes, bands)
    b_ref = banded.join(ref, on=id_col).withColumnRenamed(id_col, "id_b")
    b_corpus = banded.join(ref, on=id_col, how="left_anti")
    pairs = (
        b_corpus.join(F.broadcast(b_ref), on=["band", "h"])
        .select(F.col(id_col).alias("id_a"), "id_b")
        .distinct()
    )
    jac = jaccard_pairs(df, pairs, text_col, id_col, shingle_k, shingles=sh)
    flagged = (
        jac.filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("id_a").alias(id_col))
        .agg(
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
            F.count(F.lit(1)).alias("n_matches"),
        )
        # materialize the (tiny) flag set now so the shingle cache can
        # be released before returning (same discipline as dedup_minhash)
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return flagged


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingles: DataFrame | None = None,
    band_cap: int | None = 200,
    split_factor: int = 16,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH banding.

    Plan shape (scale-critical): explode to (band, band_hash, id) — rows
    = docs * bands, tiny — then a self-equi-join on (band, band_hash).
    The join key is a 64-bit hash, so the shuffle is narrow and uniform;
    no all-pairs comparison ever happens.

    **Band-size cap (default ON, VERDICT-r9 #1).**  An adversarially
    skewed corpus (or a crawl with a hot boilerplate template) can land
    thousands of docs in ONE (band, h) bucket, making in-band candidate
    generation ~bucket² — the unbounded hole every dedup consumer of
    this operator would inherit.  Any bucket larger than ``band_cap``
    docs is split on a SECONDARY deterministic key: ``pmod(h2,
    split_factor)`` where ``h2`` is the doc's NEXT band hash (cyclic),
    bounding the bucket's pairs at ~(size/split_factor)² per subgroup.

    Recall contract (mirrors the query-layer cap at
    ``queries._BAND_CAP``): a pair dropped from an oversized bucket
    ALWAYS differs in its next band's signature chunk — pairs agreeing
    on (band, h) AND h2 are NEVER dropped — and a true near-dup pair
    still collides in its other ``bands - 1`` band tables, so the cap
    trades a sliver of single-band recall for a hard worst-case bound.
    Degenerate ``bands == 1`` has no other band: there h2 == h, every
    row of a bucket gets the same salt, and the cap gracefully never
    splits (no silent recall loss where no backup band exists).
    ``band_cap=None`` disables the cap entirely.

    The bucket-size count is a window over (band, h) — one extra
    shuffle of the tiny 4-int-column band frame, never a broadcast of
    per-bucket sizes (bucket-key cardinality is O(docs·bands); only a
    BOUNDED blocking scheme may broadcast its group sizes).

    Returns (id_a, id_b) with id_a < id_b, distinct."""
    base = shingles if shingles is not None else shingle_frame(df, text_col, id_col, shingle_k)
    banded = band_frame(base, id_col, num_hashes, bands, with_next=band_cap is not None)
    if band_cap is not None:
        w = Window.partitionBy("band", "h")
        banded = (
            banded.withColumn("__n__", F.count(F.lit(1)).over(w))
            .withColumn(
                "salt",
                F.when(
                    F.col("__n__") > band_cap,
                    F.pmod(F.col("h2"), F.lit(split_factor)).cast("int"),
                ).otherwise(F.lit(-1)),
            )
            .select(F.col(id_col), "band", "h", "salt")
            # re-materialize: the self-join below would otherwise run the
            # window exchange on both sides (no ReusedExchange across a
            # self-join) — and the salted frame is 4 int columns
            .localCheckpoint(eager=True)
        )
        keys = ["band", "h", "salt"]
    else:
        keys = ["band", "h"]
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on=keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact hashed-shingle Jaccard for candidate pairs (verify step
    after LSH).  Joins the (small) candidate set back to the shingle-hash
    arrays; similarity = |A∩B| / |A∪B| via array_intersect/array_union
    over longs — JVM-side, no string comparisons."""
    base = shingles if shingles is not None else shingle_frame(df, text_col, id_col, shingle_k)
    sh = base.select(F.col(id_col), F.col("hs"))
    out = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "hs": "hs_a"}), on="id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "hs": "hs_b"}), on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("hs_a", "hs_b"))
                / F.size(F.array_union("hs_a", "hs_b"))
            ).alias("jaccard"),
        )
    )
    return out


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components of an undirected pair set (id_a, id_b) ->
    (id, comp) with comp = smallest id in the component.

    Graphframes-free iterative smallest-label propagation: each round
    every node takes min(own label, neighbors' labels) — one narrow
    self-join per round, converging in O(component diameter) rounds
    (near-dup clusters are shallow in practice).  The edge set is the
    *verified candidate pairs* — tiny relative to the corpus — so the
    driver-side convergence loop costs a handful of small jobs, not
    scans of the data.  Convergence check: sum of labels is strictly
    decreasing until fixpoint (labels only ever decrease)."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # decimal sum: labels are arbitrary 64-bit ids — a bigint sum over
    # billions of nodes can overflow and alias two different states
    chk = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev_sum = labels.agg(chk).first()[0]

    def _propagate(lab):
        nb = (
            edges.join(lab, edges["dst"] == lab["id"])
            .groupBy("src").agg(F.min("comp").alias("__nb__"))
        )
        return (
            lab.join(nb, lab["id"] == nb["src"], "left")
            .select(
                F.col("id"),
                F.least(F.col("comp"), F.coalesce(F.col("__nb__"), F.col("comp"))).alias("comp"),
            )
        )

    # r13 (optimization, guide §1.2): TWO propagation rounds per
    # lineage cut + convergence check — the checkpoint job and the
    # decimal-sum job are each per-check driver round trips, and a
    # depth-2 join chain plans fine (same cadence trick as the
    # PageRank loop; labels at a fixpoint are invariant under an extra
    # round, so the result is bit-identical — at worst one already-
    # converged round of work is spent detecting convergence).
    rounds = 0
    while rounds < max_iter:
        labels = _propagate(labels)
        rounds += 1
        if rounds < max_iter:
            labels = _propagate(labels)
            rounds += 1
        labels = labels.localCheckpoint(eager=True)
        cur = labels.agg(chk).first()[0]
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    policy: str = "greedy",
    pre_exact: bool = False,
) -> DataFrame:
    """Near-dedup over verified MinHash-LSH pairs.  The shingle frame is
    computed once and shared (cached) between the LSH candidate stage
    and the exact verify stage.

    ``pre_exact``: run :func:`dedup_exact` first (one extra narrow
    shuffle).  The survivor set is IDENTICAL — exact duplicates share a
    shingle set, so the near-dup stage drops every higher-id twin the
    exact stage would (jaccard 1 >= any threshold), and any doc similar
    to a twin is equally similar to its kept representative.  What
    changes is the degenerate-skew profile: a corpus with millions of
    verbatim copies otherwise lands them all in the SAME band buckets,
    making the LSH self-join quadratic in the copy count.  Turn this on
    for crawl-shaped corpora at scale; off (default) when exact dups
    are known rare.

    Survivor policies:

    * ``greedy`` (default): drop any doc that has a >=threshold twin
      with a smaller id.  On a transitive chain A~B~C (A!~C) this
      drops BOTH B and C — over-deletion is the accepted trade of the
      standard large-corpus policy.
    * ``components``: union-find the verified pairs
      (:func:`connected_components`) and keep exactly the smallest id
      per near-dup cluster — A~B~C keeps A, drops {B, C} as one
      cluster, and a chain D~E (separate) independently keeps D."""
    if policy not in ("greedy", "components"):
        raise ValueError(f"unknown survivor policy {policy!r}")
    if pre_exact:
        df = dedup_exact(df, text_col, id_col)
    sh = shingle_frame(df, text_col, id_col, shingle_k).persist()
    cand = minhash_candidates(df, text_col, id_col, shingle_k=shingle_k, shingles=sh)
    verified = (
        jaccard_pairs(df, cand, text_col, id_col, shingle_k=shingle_k, shingles=sh)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
        # materialize the (tiny) verified-pair set now so the shingle
        # cache can be released immediately — otherwise every dedup call
        # leaks its cached shingle frame into executor storage memory
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    if policy == "components":
        comp = connected_components(verified)
        dup_ids = comp.filter(F.col("comp") != F.col("id")).select(F.col("id").alias(id_col))
    else:
        dup_ids = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dup_ids, on=id_col, how="left_anti")


def simhash_from_hashes(hs: Column, bits: int = 32) -> Column:
    """SimHash signature from pre-hashed shingles (array<long>).

    Single aggregate pass: the accumulator is the per-bit ones-count
    vector (zip_with over the bit expansion of each hash); the majority
    votes are then packed into one long.  No UDF, no repeated scans of
    the array — the naive per-bit formulation re-walks the array `bits`
    times and re-inlines the shingle expression each walk."""
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    ones = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda b: F.getbit(h, b)),
            lambda a, x: a + x,
        ),
    )
    n = F.size(hs)
    # pack: 2^b is exact as double for b <= 52, so bits <= 52 is safe
    return F.aggregate(
        F.zip_with(
            ones,
            idx,
            lambda o, b: F.when(o * 2 > n, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash(text_col: Column, bits: int = 32, shingle_k: int = 2) -> Column:
    """SimHash over inline text (convenience; hot paths should use
    shingle_frame + simhash_from_hashes)."""
    hs = F.transform(word_shingles(text_col, shingle_k), lambda s: F.xxhash64(s))
    return simhash_from_hashes(hs, bits)


def simhash_candidates(
    sig: DataFrame,
    radius: int,
    id_col: str = "doc_id",
    sig_col: str = "__sh__",
    bits: int = 32,
    band_cap: int | None = None,
    split_factor: int = 16,
) -> DataFrame:
    """Candidate pairs within hamming distance ``radius`` of each other,
    via pigeonhole banding: split the signature into ``radius + 1``
    chunks — two signatures differing in <= radius bits must agree on at
    least one chunk — and self-equi-join on (band, chunk).  Same
    bucketed shape as minhash LSH banding: shuffles only (id, band,
    chunk) rows on a small int key, never all-pairs.  Candidates are
    then verified exactly: ``bit_count(xor) <= radius`` (no false
    positives leave this function).

    ``band_cap`` (default OFF, unlike :func:`minhash_candidates`):
    pigeonhole banding's contract is EXACTNESS — every pair within the
    radius is found — and the chunks are exhaustive rather than
    redundant, so splitting an oversized bucket can drop a true pair
    whose ONLY agreeing chunk was the split one.  The opt-in cap
    therefore trades that no-false-negative guarantee for a hard bound
    on worst-case join cost under boilerplate skew (thousands of docs
    sharing one chunk value): buckets above the cap split on
    ``pmod(full signature, split_factor)``, which keeps EQUAL-signature
    docs (exact dups — the usual cause of monster buckets) co-located,
    so the recall loss is confined to near-miss pairs inside oversized
    buckets.  Turn it on for crawl-shaped corpora where the verify join
    cost matters more than exhaustive radius recall."""
    bands = radius + 1
    width = -(-bits // bands)
    mask = (1 << width) - 1
    chunks = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(sig_col), b * width).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for b in range(bands)
    ])
    banded = (
        sig.select(F.col(id_col), F.col(sig_col), F.explode(chunks).alias("c"))
        .select(F.col(id_col), F.col(sig_col), F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk"))
        # tiny 4-column frame; checkpoint so the self-join doesn't run
        # the full signature pipeline on both sides (same reasoning as
        # minhash_candidates)
        .localCheckpoint(eager=True)
    )
    keys = ["band", "chunk"]
    if band_cap is not None:
        w = Window.partitionBy("band", "chunk")
        banded = (
            banded.withColumn("__n__", F.count(F.lit(1)).over(w))
            .withColumn(
                "salt",
                F.when(
                    F.col("__n__") > band_cap,
                    F.pmod(F.col(sig_col), F.lit(split_factor)).cast("int"),
                ).otherwise(F.lit(-1)),
            )
            .drop("__n__")
            .localCheckpoint(eager=True)
        )
        keys = ["band", "chunk", "salt"]
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(
            F.bit_count(F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))) <= radius
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def dedup_simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  bits: int = 32, shingle_k: int = 2, radius: int = 0) -> DataFrame:
    """SimHash near-dedup at hamming radius ``radius``.

    radius 0: group by the exact signature, keep lowest id (one narrow
    shuffle).  radius > 0: pigeonhole-banded LSH self-join
    (:func:`simhash_candidates`) then drop the higher id of every
    verified pair — catches the hamming-1/2 near-dups simhash exists
    for, still with no all-pairs join in the plan."""
    sh = shingle_frame(df, text_col, id_col, shingle_k)
    sig = sh.select(F.col(id_col), simhash_from_hashes(F.col("hs"), bits).alias("__sh__"))
    if radius <= 0:
        w = Window.partitionBy("__sh__").orderBy(F.col(id_col).asc())
        keep = (
            sig.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select(id_col)
        )
        return df.join(keep, on=id_col, how="left_semi")
    dup_ids = (
        simhash_candidates(sig, radius, id_col=id_col, bits=bits)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dup_ids, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# Oracle-expressible MinHash (arithmetic hash family)
# --------------------------------------------------------------------------

ARITH_P = 2_147_483_647  # 2^31 - 1, Mersenne prime


def arith_hash_family(num_hashes: int, seed: int = 0) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients for the universal family
    h_i(x) = (a_i * x + b_i) mod ARITH_P.

    Derived from fixed primes with NO runtime randomness so both the
    Spark expressions and the DuckDB oracle SQL can bake the exact same
    integer literals — the single source of truth for the cross-engine
    MinHash below.  Products stay < (P-1)^2 < 2^62: safe 64-bit math in
    both engines."""
    out = []
    for i in range(num_hashes):
        a = (104_729 * (2 * i + 3) + 7 * seed) % ARITH_P or 1
        b = (1_299_721 * (i + 1) + 13 * seed) % ARITH_P
        out.append((a, b))
    return out


def arith_shingle_hash(shingle: Column) -> Column:
    """Cross-engine shingle hash: first 8 hex chars of md5, parsed as an
    integer, reduced mod ARITH_P.  md5 is bit-identical across Spark and
    DuckDB (unlike xxhash64, whose seeding is engine-internal), which is
    what buys the full value-hash oracle for the LSH pipeline."""
    return (
        F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long") % F.lit(ARITH_P)
    )


def _arith_sql(text_col: str, shingle_k: int) -> "tuple[str, str, str]":
    """The arithmetic MinHash's shingle SQL, rendered in one place for
    :func:`arith_minhash_bands` and the driver screen's projection:
    (the token array of the normalised ``text_col`` — lower-cased,
    whitespace runs collapsed, trimmed, split on spaces; the distinct
    word ``shingle_k``-shingles of a token array column ``toks``, one
    shingle of every token when there are fewer; the hash of one
    shingle ``sh``).  Shingles are the string form the ``_SHINGLES``
    DuckDB macro reproduces (oracles.py)."""
    k = shingle_k
    toks = f"split(trim(regexp_replace(lower(`{text_col}`), '\\\\s+', ' ')), ' ')"
    shingles = (
        f"array_distinct(CASE WHEN size(toks) < {k} "
        f"THEN array(array_join(toks, ' ')) "
        f"ELSE transform(sequence(0, greatest(size(toks) - {k}, 0)), "
        f"i -> array_join(slice(toks, i + 1, {k}), ' ')) END)"
    )
    x = f"CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT) % {ARITH_P}"
    return toks, shingles, x


def arith_minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """(id, band, key) LSH band rows from the arithmetic MinHash — the
    oracle-expressible twin of :func:`band_frame` (same plan shape:
    materialized token array, distinct shingles exploded, 16 codegen'd
    min-aggregates map-side combined before ONE shuffle).

    Band key = the r row-minima of the band concatenated as text; docs
    sharing any (band, key) are candidate near-duplicates at the usual
    (1/b)^(1/r) similarity threshold.  Shingles reuse the exact string
    form the `_SHINGLES` DuckDB macro reproduces (oracles.py), already
    oracle-validated via jaccard_near_dup_pairs.

    Construction is SQL-string rendered (r13 optimization, same
    discipline as similarity's ``_sql_*`` builders): the per-Column
    form cost ~0.6 s of py4j round trips PER CALL on the incremental
    paths, which build this plan once per micro-batch plus once per
    compaction.  The strings parse to the same integer-exact
    arithmetic the Column form built — value parity is pinned by every
    oracle gate on the family."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    fam = arith_hash_family(num_hashes)
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    qid = f"`{id_col}`"
    toks_sql, shingles_sql, hash_sql = _arith_sql(text_col, shingle_k)
    toks = (
        df.selectExpr(qid, f"{toks_sql} AS toks")
        .repartition(n_parts, F.col(id_col))
    )
    ex = toks.selectExpr(
        qid, f"explode({shingles_sql}) AS sh"
    ).selectExpr(qid, f"{hash_sql} AS x")
    mins = ex.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a} * x + {b}) % {ARITH_P}) AS m{i}")
            for i, (a, b) in enumerate(fam)
        ]
    )
    key_sql = [
        "concat_ws('_', "
        + ", ".join(f"CAST(m{bnd * rows + r} AS STRING)" for r in range(rows))
        + ")"
        for bnd in range(bands)
    ]
    banded = mins.selectExpr(
        qid,
        "inline(array("
        + ", ".join(
            f"named_struct('band', {bnd}, 'key', {key_sql[bnd]})"
            for bnd in range(bands)
        )
        + "))",
    )
    return banded


# the persisted MinHash index's bucket (and set) key
_BAND_KEYS = ["band", "key"]


def write_minhash_index(
    df: DataFrame,
    group_dir: str,
    epoch: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    n_buckets: "int | None" = None,
) -> None:
    """Persist a corpus's MinHash band signatures as one committed
    epoch of an atomic parquet group (``leaf 'bands'``) — the stored
    side of INCREMENTAL near-dedup (VERDICT-r9 #6).  A daily crawl
    appends its own signatures as the next epoch after checking, so
    the index grows strictly by |batch| band rows per day and no run
    ever recomputes signatures for documents already ingested.

    Layout (r11, VERDICT-r10 #1): every epoch directory is written
    BUCKETED on (band, key) — ``Sink.atomic_bucketed_group`` — so the
    incremental check's semi-join plans a bucketed FileScan with NO
    Exchange on the index side; only the arriving batch shuffles, once,
    to align with the bucket count.  Band rows are also PRE-DEDUPED
    within the epoch (one row per (band, key), smallest ``doc_id`` kept
    as the deterministic representative), so the read path needs no
    ``distinct()`` and the stored index is bounded by distinct band
    keys, not docs x bands.  Both changes leave the stored (band, key)
    SET — and therefore every incremental decision — bit-identical, so
    the oracle gates are untouched.  ``n_buckets`` is recorded in the
    group's ``_bucketspec.json`` on first write and is immutable for
    the index's lifetime (default: :meth:`Sink.size_derived_buckets` of
    the input — at 100 TB pick the number once, like any bucketed
    table).

    The arithmetic (md5-based) hash family is used so the stored index
    — and every incremental decision made against it — stays under the
    full value-hash oracle gate; the atomic-group marker protocol
    makes a crashed index update invisible to readers.  Maintenance:
    :func:`compact_minhash_index` consolidates accumulated epochs into
    one bucketed dir deduped to distinct (band, key); pass
    ``compact_after=K`` to :func:`incremental_minhash_new` to run it
    automatically every K appended epochs."""
    from tubes_spark.sink import Sink

    banded = arith_minhash_bands(df, text_col, id_col, shingle_k, num_hashes, bands)
    deduped = banded.groupBy("band", "key").agg(F.min(id_col).alias(id_col)).select(
        id_col, "band", "key"
    )
    if n_buckets is None and Sink._bucket_spec(group_dir) is None:
        n_buckets = Sink.size_derived_buckets(df)
    Sink.append_bucketed_epoch(
        deduped, group_dir, "bands", _BAND_KEYS, n_buckets, epoch=epoch
    )


def compact_minhash_index(spark, group_dir: str) -> int:
    """Index maintenance in one call: consolidate every committed epoch
    of the ``bands`` leaf into a single bucketed directory, DEDUPED to
    one row per (band, key) across epochs, and gc the superseded epoch
    dirs.  Two growth terms die at once: the per-epoch directory/file
    fan-in (the read path joins each committed dir separately — PARITY
    r11 measured the uncompacted 20-epoch index at ~3x the compacted
    cost) and the cross-epoch key repeats (a band key colliding every
    day stores one row, not one per day, so the stored index is bounded
    by DISTINCT band keys, not corpus age).  The (band, key) SET — and
    therefore every incremental decision — is unchanged; the bucketed
    layout survives consolidation, so the post-compaction plan is the
    same zero-index-side-Exchange shape.  Amortization: a compaction
    rewrites the whole index, so run it every K epochs (see
    ``compact_after``) — 1/K of the index size per ingested epoch, the
    standard LSM trade, chosen here instead of leveled merging because
    a bucketed parquet table has exactly one level to maintain."""
    from tubes_spark.sink import Sink

    return Sink.compact_atomic_group(
        spark, group_dir, gc=True, dedupe_keys={"bands": _BAND_KEYS}
    )


# ----------------------------------- driver-side screening of small indexes
#
# The Spark screen below costs a multi-job plan per call (an eager
# signature checkpoint, a semi-join per live index dir, a bucketed-table
# registration per new epoch dir) — most of a call at the few-hundred-row
# batches of an ingest loop.  Under the gate in :func:`_screen_on_driver`
# the same decisions come from one narrow Spark projection (the shingle
# hashes, string semantics all Spark's) plus integer numpy, checked
# against a cached snapshot of the live (band, key) set.

def _load_band_keys(files):
    """The distinct live ``"<band> <key>"`` strings of the ``bands``
    files, read with pyarrow (no Spark job), or None when a file lacks
    an integer ``band`` or a string ``key`` column (the Spark plan
    decides those).  NULLs never match, so they are dropped."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    parts = []
    for path, _, _ in files:
        t = pq.ParquetFile(path).read(columns=_BAND_KEYS)  # skips absent ones
        if sorted(t.column_names) != _BAND_KEYS:
            return None
        band, key = t.column("band"), t.column("key")
        if not pa.types.is_integer(band.type) or not pa.types.is_string(key.type):
            return None
        parts += _band_key_strings(band, key).chunks
    return pc.unique(pa.chunked_array(parts, pa.string()).drop_null())


def _band_key_strings(band, key):
    """``"<band> <key>"`` per row: one string per (band, key) pair (a
    key holds digits and ``_`` only), NULL where either is NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.binary_join_element_wise(pc.cast(band, pa.string()), key, " ")


def _band_keys(q, id_col: str, num_hashes: int, bands: int):
    """The arithmetic MinHash of each distinct id of the batch ``q``
    (``id_col``, ``xs``: the shingle hashes of one row), as
    :func:`arith_minhash_bands` groups it: rows of one id merge (NULL
    ids are one id), a NULL hash is skipped by every minimum, an id with
    only NULL hashes keys every band ``''`` (``concat_ws`` drops NULLs)
    and an id with no hash at all has no band rows.

    Returns (``ids``: the distinct ids; ``gid``: the index into ``ids``
    of every id with band rows; ``band``, ``key``: their band rows,
    band-major — the rows of band ``b`` are ``b * len(gid)`` onwards, in
    ``gid`` order).  Minima are int64 numpy (products stay below
    2^62)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(
        q.column(id_col).combine_chunks(), null_encoding="encode"
    )
    xs = q.column("xs").combine_chunks()
    row = np.repeat(
        enc.indices.to_numpy(),
        pc.fill_null(pc.list_value_length(xs), 0).to_numpy(),
    )
    flat = pc.list_flatten(xs)
    null = flat.is_null().to_numpy(zero_copy_only=False)
    x = pc.fill_null(flat, 0).to_numpy()
    order = np.argsort(row, kind="stable")
    row, x, null = row[order], x[order], null[order]
    start = np.flatnonzero(np.diff(row, prepend=-1))  # each id's first row
    mins = np.empty((len(start), num_hashes), np.int64)
    for i, (a, b) in enumerate(arith_hash_family(num_hashes)):
        h = (a * x + b) % ARITH_P
        h[null] = ARITH_P  # above every hash: min() skips it
        if len(start):
            mins[:, i] = np.minimum.reduceat(h, start)
    # an id's minima are all NULL (only NULL hashes) or none is
    no_hash = mins[:, 0] == ARITH_P
    digits = [
        pa.array(mins[:, i], mask=no_hash).cast(pa.string())
        for i in range(num_hashes)
    ]
    per = num_hashes // bands
    key = pa.concat_arrays([
        pc.fill_null(
            digits[b * per] if per == 1
            else pc.binary_join_element_wise(*digits[b * per:(b + 1) * per], "_"),
            "",
        )
        for b in range(bands)
    ])
    band = np.repeat(np.arange(bands, dtype=np.int32), len(start))
    return enc.dictionary, row[start], pa.array(band), key


def _screen_on_driver(
    arriving: DataFrame, spark, group_dir: str, id_col: str, text_col: str,
    shingle_k: int, num_hashes: int, bands: int, update_index: bool,
    append_scope: str, compact_after: "int | None",
) -> "DataFrame | None":
    """:func:`incremental_minhash_new` computed on the driver, or None
    when the gate sends the call to the Spark plan.

    Gate, decided before ``arriving`` is read: a batch (not streaming)
    ``arriving`` with integer or string ids whose plan-estimated size
    (:meth:`Sink.plan_bytes` of the id and text columns) is known, and
    both that estimate and the live ``bands`` files at most
    ``spark.sql.autoBroadcastJoinThreshold`` bytes (-1 disables this
    path).  The shingle hashes come from one narrow projection of the
    batch read with ``toArrow``; minima, band keys and hits are computed
    here (:func:`_band_keys`) against the cached live (band, key) set
    (:meth:`Sink.leaf_snapshot`).  The result anti-joins ``arriving``
    with a local relation of the duplicate ids (a NULL id never joins,
    so it survives, as on the Spark path); it reads no index dir, so the
    append needs nothing pinned.  The appended epoch — the min id per
    (band, key) of every id, or of the kept ones under
    ``append_scope="survivors"`` — is handed to
    :meth:`Sink.append_bucketed_epoch` as the Arrow table it already is,
    and written from the driver."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import (
        IntegerType, IntegralType, StringType, StructField, StructType,
    )

    from tubes_spark.sink import Sink

    if arriving.isStreaming:
        return None
    limit = Sink.broadcast_threshold(spark)
    spec = Sink._bucket_spec(group_dir)
    if limit < 0 or spec is None:  # no spec: the Spark plan refuses it
        return None
    side = arriving.select(id_col, text_col)
    id_field = side.schema[id_col]
    if not isinstance(id_field.dataType, (IntegralType, StringType)):
        return None
    est = Sink.plan_bytes(side)
    if est is None or est > limit:
        return None
    seen = Sink.leaf_snapshot(
        group_dir, spec["leaf"], tuple(_BAND_KEYS), _load_band_keys, limit
    )
    if seen is None:
        return None
    toks_sql, shingles_sql, hash_sql = _arith_sql(text_col, shingle_k)
    qid = f"`{id_col}`"
    q = (
        # a single-file batch arrives as one partition: spread the
        # shingle work over the cores, as arith_minhash_bands does
        side.repartition(spark.sparkContext.defaultParallelism)
        .selectExpr(qid, f"{toks_sql} AS toks")
        .selectExpr(qid, f"transform({shingles_sql}, sh -> {hash_sql}) AS xs")
        .toArrow()
    )
    ids, gid, band, key = _band_keys(q, id_col, num_hashes, bands)
    hit = pc.is_in(_band_key_strings(band, key), value_set=seen).to_numpy(
        zero_copy_only=False
    )
    dup = hit.reshape(bands, -1).any(axis=0) & ids.is_valid().to_numpy(
        zero_copy_only=False
    )[gid]
    dups = spark.createDataFrame(
        pa.table([ids.take(pa.array(gid[dup]))], names=[id_col]),
        StructType([id_field]),
    )
    out = arriving.join(dups, id_col, "left_anti")
    if update_index:
        keep = np.ones(len(gid), bool) if append_scope == "all" else ~dup
        rows = pa.array(np.tile(keep, bands))
        per_key = pa.table({
            id_col: ids.take(pa.array(np.tile(gid[keep], bands))),
            "band": band.filter(rows), "key": key.filter(rows),
        }).group_by(_BAND_KEYS).aggregate([(id_col, "min")])
        appended = (
            pa.table(
                [per_key.column(f"{id_col}_min"), per_key.column("band"),
                 per_key.column("key")],
                names=[id_col, "band", "key"],
            ),
            StructType([
                StructField(id_col, id_field.dataType, True),
                StructField("band", IntegerType(), False),
                StructField("key", StringType(), False),
            ]),
        )
        Sink.append_bucketed_epoch(
            appended, group_dir, "bands", _BAND_KEYS,
            compact_after=compact_after, dedupe_keys={"bands": _BAND_KEYS},
            spark=spark,
        )
    return out


def incremental_minhash_new(
    arriving: DataFrame,
    spark,
    group_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    update_index: bool = False,
    append_scope: str = "all",
    compact_after: "int | None" = None,
) -> DataFrame:
    """Arriving-batch near-dedup against a PERSISTED banded signature
    index: compute signatures for the arriving docs ONLY, semi-join
    their band rows against the stored (band, key) set, and keep the
    docs that collide with no document whose signatures are already in
    the index.  The old corpus's TEXT is never read — the whole
    seen-side cost is a scan of the (id, band, key) index parquet
    (tests assert the plan holds no scan of the old documents at all).

    Scale shape (r11, VERDICT-r10 #1): the index directories are
    BUCKETED on (band, key) (see :func:`write_minhash_index`), so each
    committed directory joins as a bucketed FileScan with NO Exchange
    on the index side and no ``distinct()`` anywhere — the ONLY
    shuffle is the arriving batch's band rows aligning with the bucket
    count, and Spark's ReuseExchange pays it once across all epoch
    joins.  Index-side cost therefore stops growing with corpus age in
    shuffle terms (it remains a colocated scan+sort), which is the
    whole point of the layout at 100 TB.  A group without
    ``_bucketspec.json`` is refused with a ``ValueError``: rebuild it
    with :func:`write_minhash_index`.

    Small batches and indexes are screened on the driver instead
    (:func:`_screen_on_driver`; gate and timings in the module
    docstring): the same survivors and stored band rows, and a result
    that reads only ``arriving``, anti-joined with a local relation of
    the duplicate ids — so the index is never scanned and the append
    pins nothing.

    ``update_index=True`` appends the arriving batch's band rows as
    the next committed epoch (the daily maintenance step), atomic
    under the group marker.  NOTE the index semantics, encoded
    deliberately by the oracle: the appended epoch carries band rows
    for ALL arriving docs — including docs this very call rejected as
    near-dups — so a later batch can be rejected for colliding with a
    document that was itself rejected (transitive rejection).  That is
    the standard greedy-ingest contract (the first-seen representative
    of a near-dup cluster anchors it, and anything matching EITHER the
    representative or a prior rejected variant is still a dup).
    ``append_scope="survivors"`` opts into survivor-only anchoring
    instead: only docs this call KEPT contribute band rows to the next
    epoch, so a later doc is rejected only for resembling something
    actually ingested (no transitive rejection; the index stays
    smaller on dup-heavy streams, at the cost of re-admitting drifted
    variants of a rejected doc).

    ``compact_after=K`` (requires ``update_index=True``) makes the
    daily run self-maintaining: after the epoch append, if the index
    holds >= K committed epochs past the last compaction point, run
    :func:`compact_minhash_index` (consolidate + cross-epoch key-dedupe
    + gc).  Decisions are unaffected — compaction preserves the
    (band, key) set — and the read fan-in stays bounded at K epoch
    dirs + 1 compact dir no matter how old the index grows; each
    compaction rewrites the index once, i.e. ~1/K of the index per
    ingested epoch amortized."""
    import functools

    from pyspark.sql import functions as F

    from tubes_spark.sink import Sink

    # argument contract first (ADVICE r11) — a guaranteed-invalid call
    # must not pay the eager signature checkpoint below
    if compact_after is not None and not update_index:
        raise ValueError("compact_after requires update_index=True")
    if append_scope not in ("all", "survivors"):
        raise ValueError(f"unknown append_scope {append_scope!r}")

    out = _screen_on_driver(
        arriving, spark, group_dir, id_col, text_col, shingle_k, num_hashes,
        bands, update_index, append_scope, compact_after,
    )
    if out is not None:
        return out
    ab = arith_minhash_bands(
        arriving, text_col, id_col, shingle_k, num_hashes, bands
    ).localCheckpoint(eager=True)
    sides = Sink.read_bucketed_leaf(spark, group_dir)
    if sides:
        dups = [
            ab.join(s.select("band", "key"), ["band", "key"], "left_semi")
            .select(id_col)
            for s in sides
        ]
        dup = functools.reduce(DataFrame.union, dups).distinct()
    else:
        dup = ab.select(id_col).limit(0)
    out = arriving.join(dup, id_col, "left_anti")
    if update_index:
        src = (
            ab
            if append_scope == "all"
            else ab.join(dup, id_col, "left_anti")
        )
        ab_dedup = (
            src.groupBy("band", "key")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, "band", "key")
        )
        # `out`'s lazy plan reads the epoch dirs a compaction's gc
        # deletes — the append pins it first (bounded by |batch|; a
        # real pipeline has landed the survivors by now)
        out = Sink.append_bucketed_epoch(
            ab_dedup, group_dir, "bands", _BAND_KEYS,
            compact_after=compact_after,
            dedupe_keys={"bands": _BAND_KEYS}, pin=out,
        )
    return out


def dedup_minhash_arith(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Greedy MinHash-LSH dedup with the ORACLE-EXPRESSIBLE hash family:
    drop every doc that shares any LSH band bucket with a smaller-id doc.

    Deliberately the pure-LSH policy (no Jaccard verify step) so the
    survivor set is an exact deterministic function of the band keys —
    DuckDB reproduces it bit-for-bit, giving the banded-LSH pipeline a
    full value-hash driver pass that the xxhash64 production path
    (:func:`dedup_minhash`) structurally cannot have.  Production use
    remains dedup_minhash; this is its verification twin.

    Scale shape: identical to the production path — one narrow shuffle
    on (band, key) text keys, a per-bucket min, a broadcast-size dropped
    set anti-joined back.  No all-pairs anywhere."""
    banded = arith_minhash_bands(df, text_col, id_col, shingle_k, num_hashes, bands)
    w = Window.partitionBy("band", "key")
    dropped = (
        banded.withColumn("__mn__", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) > F.col("__mn__"))
        .select(id_col)
        .distinct()
    )
    return df.join(dropped, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# ExactSubstr span dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better") — token-k-gram granularity.  The paper's
# suffix-array pass finds repeated character substrings; at cluster scale
# the standard approximation is fixed-k token-gram matching (the same
# primitive the decontamination pass uses), which is fully expressible as
# DataFrame ops: explode k-grams WITH their start positions, find grams
# repeated across documents, merge the hit spans per document.
# --------------------------------------------------------------------------

def kgram_positions(docs: DataFrame, k: int, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, s, g): every token ``k``-gram with its 0-based start position.

    Built scale-safe the same way queries._bigram_frame builds bigrams:
    the gram array comes from ``zip_with`` folds over O(n) slices of the
    token array, so the tokenizing split is evaluated a constant number
    of times per row — never the O(words^2) per-element `element_at`
    trap text.py documents.  ``posexplode`` then carries the start
    position for free (array order == token order)."""
    from tubes_spark.operators.text import tokenize

    t = docs.select(id_col, tokenize(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    m = F.greatest(n - (k - 1), F.lit(0))
    g = F.slice(F.col("__toks"), 1, m)
    for j in range(1, k):
        g = F.zip_with(
            g,
            F.slice(F.col("__toks"), j + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return t.select(id_col, F.posexplode(g).alias("s", "g")).withColumn(
        "s", F.col("s").cast("long")
    )


def merge_islands(spans: DataFrame, id_col: str = "doc_id",
                  start: str = "a", end: str = "b") -> DataFrame:
    """Merge overlapping/adjacent [start, end] spans per document into
    maximal islands: (id, ia, ib).  Classic gaps-and-islands — a new
    island opens where the start clears the running max of every
    previous end.  One window per document; spans per doc are bounded
    by doc length, so the window never sees more than one doc's rows."""
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy(F.col(start).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy(F.col(start).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = spans.withColumn(
        "__new__",
        (F.col(start) > F.coalesce(F.max(F.col(end)).over(w_prev), F.lit(-1))).cast("int"),
    )
    numbered = marked.withColumn("__isl__", F.sum("__new__").over(w_run))
    return (
        numbered.groupBy(id_col, "__isl__")
        .agg(F.min(start).alias("ia"), F.max(end).alias("ib"))
        .select(id_col, "ia", "ib")
    )


def duplicated_span_islands(docs: DataFrame, k: int = 5, text_col: str = "text",
                            id_col: str = "doc_id", cross_doc_only: bool = True,
                            exclude_owner: bool = False) -> DataFrame:
    """Merged islands of tokens covered by k-grams that occur in >= 2
    distinct documents: (id, ia, ib).  With ``exclude_owner`` each
    duplicated gram's canonical occurrence (the MIN doc id holding it)
    is spared — the keep-first-copy policy of the ExactSubstr scrub.

    Scale shape: one corpus-wide groupBy on the gram string to find the
    duplicated set, one shuffle join back to the positions (hinted
    shuffle_hash — the duplicated-gram table scales WITH the corpus, so
    a stale-estimate auto-broadcast would OOM at 100x exactly like the
    jaccard candidate table did), then per-doc windows.  At 100 TB,
    group on xxhash64(g) instead of g to narrow the exchange and accept
    the ~2^-64 collision rate; here the gram string keeps the whole
    pipeline DuckDB-reproducible."""
    kg = kgram_positions(docs, k, text_col, id_col)
    agg = [F.count_distinct(F.col(id_col)).alias("__nd__")]
    if exclude_owner:
        agg.append(F.min(F.col(id_col)).alias("__owner__"))
    dup = kg.groupBy("g").agg(*agg).filter(F.col("__nd__") >= 2)
    hits = kg.join(dup.hint("shuffle_hash"), "g")
    if exclude_owner:
        hits = hits.filter(F.col(id_col) != F.col("__owner__"))
    spans = hits.select(
        id_col, F.col("s").alias("a"), (F.col("s") + (k - 1)).alias("b")
    )
    return merge_islands(spans, id_col)
