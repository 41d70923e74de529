"""The engine's query battery: one entry per operator family from
SURVEY.md §2 plus the north-star extensions (§2.8/§7.2-M4).

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL lives in ORACLES (same result columns, same
aliases — the driver hash-compares order-insensitively).

Float discipline (drives every alias below):
* per-row IEEE arithmetic (+,-,*,/, sqrt) is bit-identical across
  engines -> emit raw;
* SUM/running-SUM goes through DECIMAL(27,6) (exact, order-independent)
  then one cast to double -> bit-identical;
* transcendentals (exp/ln/sin/pow) may differ by ulps across libms ->
  round(...,6) with operands O(1);
* epoch seconds are emitted as BIGINT via floor() to avoid tz/rounding
  drift in timestamp rendering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tubes_spark import pipe as pipe_mod
from tubes_spark.catalog import load_table
from tubes_spark.operators import dedup, joins, similarity, text, windows
from tubes_spark.operators.fold import fold_by, running_by
from tubes_spark.source import Source


def dsum(c: Column) -> Column:
    """Exact, order-independent sum: decimal accumulate, one double cast."""
    return F.sum(c.cast("decimal(27,6)")).cast("double")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)




def _fan(df: DataFrame, key: str = "doc_id", n: int = 32) -> DataFrame:
    """Fan a small-file scan out to ``n`` tasks before CPU-heavy per-row
    work.  A single-file parquet table with one row group scans as ONE
    task regardless of maxPartitionBytes, so a codegen-heavy projection
    (per-char md5, sample synthesis, shingle explode) runs serially;
    one exchange of the raw rows fixes that.  On a many-file production
    corpus the scan is already parallel and this exchange is dominated
    by the downstream work it feeds — the call sites note which."""
    return df.repartition(n, key)




def LI_SEQ() -> Column:
    """Unique lineitem position: l_linenumber <= 7 so *8 is injective."""
    return F.col("l_orderkey") * 8 + F.col("l_linenumber")


# --------------------------------------------------------------------------
# Core stateless family (SURVEY §2.3) + folds (§2.2)
# --------------------------------------------------------------------------

def flagship_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter -> map -> grouped fold.  Exercises the
    reference pipeline `each >< filter >< map >< reduce` (Tubes/Core.hs:136,
    Tubes/Source.hs:167-174) generalized to grouped aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )
    return out


def map_net_price(spark, sf_dir):
    """`map` (Tubes/Util.hs:83-84): pure per-element transform."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


def filter_pushdown(spark, sf_dir):
    """`filter` (Tubes/Util.hs:100-101); predicate reaches the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 45) & (F.col("l_discount") <= 0.02)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


def take_ordered(spark, sf_dir):
    """`take` (Tubes/Util.hs:116-120) w.r.t. the explicit seq order
    (o_orderkey is unique, so the cut point is deterministic)."""
    o = _t(spark, sf_dir, "orders")
    src = Source.from_df_keyed(o.select("o_orderkey", "o_totalprice"), F.col("o_orderkey"))
    return src.take(500).data


def drop_skip(spark, sf_dir):
    """`drop` (Tubes/Util.hs:94-96): discard the first 1000 by seq."""
    o = _t(spark, sf_dir, "orders")
    src = Source.from_df_keyed(o.select("o_orderkey", "o_totalprice"), F.col("o_orderkey"))
    return src.drop(1000).data


def takewhile_error(spark, sf_dir):
    """`takeWhile` (Tubes/Util.hs:104-113): the whole stream terminates
    at the first violation.  The predicate violates mid-stream (id 4999)
    so the cut machinery is exercised at every sf; at sf0.001 (<5000
    events) it never violates, exercising the no-cut branch too."""
    e = _t(spark, sf_dir, "events")
    src = Source.from_df_keyed(e.select("event_id", "event_type", "value"), F.col("event_id"))
    return src.take_while((F.col("event_id") % 5000) != 4999).data


def concat_ordered(spark, sf_dir):
    """`<|>` ordered concat (Tubes/Source.hs:99-126)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    a = Source.from_df_keyed(o.filter(F.col("o_orderpriority") == "1-URGENT"), F.col("o_orderkey"))
    b = Source.from_df_keyed(o.filter(F.col("o_orderpriority") == "5-LOW"), F.col("o_orderkey"))
    return (a | b).data.select("o_orderkey", "o_totalprice")


def merge_interleave(spark, sf_dir):
    """`merge` round-robin (Tubes/Source.hs:180-193); multiset equals union."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = Source.from_df_keyed(o.filter(F.col("o_totalprice") >= 100000), F.col("o_orderkey"))
    b = Source.from_df_keyed(o.filter(F.col("o_totalprice") < 100000), F.col("o_orderkey"))
    return a.merge(b).data


def cartesian_ap(spark, sf_dir):
    """Applicative `<*>` = cartesian (Tubes/Source.hs:89-92)."""
    r = Source.from_df_keyed(_t(spark, sf_dir, "region").select(F.col("r_name").alias("v")),
                             F.xxhash64("v"))
    n = Source.from_df_keyed(_t(spark, sf_dir, "nation").select(F.col("n_name").alias("v")),
                             F.xxhash64("v"))
    return r.ap(n, lambda a, b: F.concat_ws("_", a, b), alias="pair").data


def flatmap_words(spark, sf_dir):
    """Monadic bind / `for` flatMap (Tubes/Source.hs:94-97, Tubes/Util.hs:46-57)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(F.split(text.normalize(F.col("text")), " ")).alias("word")
    )


def numeric_source_math(spark, sf_dir):
    """Num/Floating instances (Tubes/Source.hs:128-162): lifted math."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt("l_quantity").alias("sqrt_qty"),
        F.round(F.exp("l_discount"), 6).alias("exp_disc"),
        F.round(F.log(F.lit(1.0) + F.col("l_discount")), 6).alias("ln1p_disc"),
        F.round(F.sin("l_quantity"), 6).alias("sin_qty"),
        # +0.0 normalizes IEEE -0.0 (DuckDB's abs(-x) keeps the sign bit
        # for x == 0.0; Spark's doesn't — the values hash differently).
        (F.abs(-F.col("l_tax")) + F.lit(0.0)).alias("abs_tax"),
    )


def floating_named_math(spark, sf_dir):
    """The remaining named Floating surface (Tubes/Source.hs:143-162):
    asin/acos/atan/sinh/cosh/tanh/atanh/logBase, each a named Source
    method (source.py) — domains chosen so every value is defined
    (l_discount in [0, 0.1]; quantities >= 1).  Transcendentals rounded
    to 6 dp (float discipline)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.asin("l_discount"), 6).alias("asin_disc"),
        F.round(F.acos("l_discount"), 6).alias("acos_disc"),
        F.round(F.atan("l_quantity"), 6).alias("atan_qty"),
        F.round(F.sinh("l_discount"), 6).alias("sinh_disc"),
        F.round(F.cosh("l_discount"), 6).alias("cosh_disc"),
        F.round(F.tanh("l_quantity"), 6).alias("tanh_qty"),
        F.round(F.atanh("l_discount"), 6).alias("atanh_disc"),
        F.round(F.log(2.0, F.lit(1.0) + F.col("l_quantity")), 6).alias("log2_qty1p"),
    )


def dynamic_channel_route(spark, sf_dir):
    """Fully-dynamic Channel Monad escape hatch (Tubes/Channel.hs:
    102-117 via pipe.pdynamic): a brand-new per-element channel decides,
    from the element's own value, what to emit — purchases yield their
    value doubled, views yield value+1, everything else yields the
    negation.  Relationally this is a CASE expression (the oracle); the
    point is the mechanism: arbitrary per-row Python, Arrow-batched."""
    e = _t(spark, sf_dir, "events")

    def make_channel(row):
        if row["event_type"] == "purchase":
            yield {"event_id": row["event_id"], "routed": row["value"] * 2.0}
        elif row["event_type"] == "view":
            yield {"event_id": row["event_id"], "routed": row["value"] + 1.0}
        else:
            yield {"event_id": row["event_id"], "routed": -row["value"]}

    p = pipe_mod.pdynamic(make_channel, "event_id long, routed double")
    return p(e.select("event_id", "event_type", "value"))


def fold_global(spark, sf_dir):
    """`reduce` whole-stream strict fold (Tubes/Source.hs:167-174)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity")).alias("total_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


def running_user_sum(spark, sf_dir):
    """Stateful running accumulator (Tubes/Channel.hs:46-76), keyed for
    scale: per-user prefix sum in event order."""
    e = _t(spark, sf_dir, "events")
    out = running_by(
        e.select("event_id", "user_id", "value"),
        ["user_id"],
        "event_id",
        run_sum=F.sum(F.col("value").cast("decimal(27,6)")),
    )
    return out.select("event_id", "user_id", F.col("run_sum").cast("double").alias("run_sum"))


def running_user_avg(spark, sf_dir):
    """The reference's running-average demo (Tubes/Channel.hs:36-77)."""
    e = _t(spark, sf_dir, "events")
    out = running_by(
        e.select("event_id", "user_id", "value"),
        ["user_id"],
        "event_id",
        s=F.sum(F.col("value").cast("decimal(27,6)")),
        n=F.count(F.lit(1)),
    )
    return out.select(
        "event_id",
        "user_id",
        (F.col("s").cast("double") / F.col("n")).alias("run_avg"),
    )


def mapm_pandas_upper(spark, sf_dir):
    """`mapM` effectful per-element transform (Tubes/Util.hs:147-150) —
    the Arrow-batched python escape hatch (never row-at-a-time)."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("doc_id", F.substring("text", 1, 30).alias("head"))

    def up(batches):
        for pdf in batches:
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "head": pdf["head"].str.upper()})

    return d.mapInPandas(up, schema="doc_id long, head string")


def each_literal_map(spark, sf_dir):
    """README flagship: `each [1..10] >< map (*2)` (Tubes/Core.hs:136-138)."""
    return Source.each(spark, range(1, 11)).map((F.col("value") * 2).alias("value")).data


def every_nullable(spark, sf_dir):
    """`every` (Tubes/Util.hs:79-80): Maybe-stream with terminal Nothing."""
    return Source.every(spark, [1, 2, 3, 4, 5]).data


# --------------------------------------------------------------------------
# Joins (north-star; reference has none — SURVEY §2.8)
# --------------------------------------------------------------------------

def join_broadcast_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = joins.broadcast_join(li, p, on=F.col("l_partkey") == F.col("p_partkey"))
    return fold_by(
        j, ["p_brand"],
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
    j = (
        joins.broadcast_join(o, c, on=F.col("o_custkey") == F.col("c_custkey"))
        .join(li, on=F.col("l_orderkey") == F.col("o_orderkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_nation_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, (F.col("o_custkey") == F.col("c_custkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy("n_name").agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_items"))


def asof_purchase(spark, sf_dir):
    """As-of join: each view event gets the user's most recent purchase
    value at-or-before it (union/window impl — one shuffle, no UDF)."""
    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    right = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    out = joins.asof_join(
        left, right, on_time="ts", by=["user_id"], right_cols=["value"],
        suffix="_last_purchase", tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "value", F.col("value_last_purchase").alias("last_purchase_value")
    )


def latest_event_per_user(spark, sf_dir):
    """argmax-per-key (deterministic tiebreak by event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


def topn_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# --------------------------------------------------------------------------
# Event-time windows (north-star)
# --------------------------------------------------------------------------

def tumbling_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = windows.tumbling(
        e, "ts", "1 hour", [],
        F.count(F.lit(1)).alias("window_count"),
        dsum(F.col("value")).alias("window_sum"),
    )
    return out.select(
        F.col("win.start").cast("long").alias("window_start"), "window_count", "window_sum"
    )


def sliding_10m(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = windows.sliding(
        e, "ts", "10 minutes", "5 minutes", [],
        F.count(F.lit(1)).alias("window_count"),
        dsum(F.col("value")).alias("window_sum"),
    )
    return out.select(
        F.col("win.start").cast("long").alias("window_start"), "window_count", "window_sum"
    )


def session_30m(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = windows.session(
        e, "ts", "30 minutes", ["user_id"],
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )
    return out.select(
        "user_id",
        F.col("win.start").cast("long").alias("session_start"),
        F.col("win.end").cast("long").alias("session_end"),
        "n_events",
        "sum_value",
    )


def _dynamic_gap_col():
    """Per-event-type session gap: purchases keep a session alive 30
    minutes, signups 60, errors 5, views/clicks 10 — the behavioral
    reality static-gap sessionization flattens."""
    return (
        F.when(F.col("event_type") == "purchase", F.lit("30 minutes"))
        .when(F.col("event_type") == "signup", F.lit("60 minutes"))
        .when(F.col("event_type") == "error", F.lit("5 minutes"))
        .otherwise(F.lit("10 minutes"))
    )


def temperature_mixture_sample(spark, sf_dir):
    """α-temperature mixture sampling — the multilingual-pretraining
    sampler (XLM-style, α = 0.7): source s is sampled with probability
    ∝ n_s^α, which flattens the head so low-resource sources are not
    drowned out; the total budget is 20% of the corpus and each
    source's quota is floor(N · w_s / Σw).  Selection within a source
    is the lowest-md5 prefix (the engine's standard seedable shuffle),
    so the sample is bit-reproducible across engines and partitionings.

    Float discipline: w_s = round(n_s^0.7, 6) is quantized to
    DECIMAL(27,6) so Σw is an exact, order-independent decimal sum;
    the quota is then ONE deterministic IEEE expression over identical
    operands on both engines, and everything downstream is integer.

    Scale shape: the per-source stats and quotas are a 5-row broadcast;
    the selection is one rank window per source (pre-split sources into
    hash buckets at 100 TB, same as mix_sources_token_budget)."""
    d = _t(spark, sf_dir, "documents")
    total = d.count()  # bounded scalar: corpus size for the budget
    n_budget = total // 5
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    counts = counts.withColumn(
        "w",
        F.round(F.pow(F.col("n_s").cast("double"), F.lit(0.7)), 6)
        .cast("decimal(27,6)"),
    )
    sumw = counts.agg(F.sum("w").alias("sw"))
    qdf = counts.crossJoin(F.broadcast(sumw)).select(
        "source",
        "n_s",
        F.floor(
            F.lit(float(n_budget))
            * F.col("w").cast("double")
            / F.col("sw").cast("double")
        ).alias("quota"),
    )
    h = F.md5(F.col("doc_id").cast("string"))
    wnd = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = d.select("doc_id", "source").withColumn(
        "rk", F.row_number().over(wnd).cast("long")
    )
    return (
        ranked.join(F.broadcast(qdf), "source")
        .filter(F.col("rk") <= F.col("quota"))
        .select("source", "doc_id", "rk", "n_s", "quota")
    )


def session_dynamic_gap(spark, sf_dir):
    """DYNAMIC-gap sessionization — the gap depends on each event's
    type, so every row extends the session by its own horizon
    ([ts, ts+gap(row)) intervals merged by overlap).  Spark-first: this
    is the built-in ``session_window`` with a gap EXPRESSION (no custom
    state code); the oracle reproduces merged-interval semantics with
    the classic islands construction — a session breaks exactly when an
    event starts at or after the running max end of its predecessors.

    Scale shape: one shuffle on user_id (the session merge is
    state-local per key), 8-key-free — identical cost class to the
    static session_30m."""
    e = _t(spark, sf_dir, "events")
    out = e.groupBy(
        F.session_window(F.col("ts"), _dynamic_gap_col()).alias("win"),
        "user_id",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )
    return out.select(
        "user_id",
        F.col("win.start").cast("long").alias("session_start"),
        F.col("win.end").cast("long").alias("session_end"),
        "n_events",
        "sum_value",
    )


def streaming_session_dynamic(spark, sf_dir):
    """The dynamic-gap session through the REAL streaming engine: the
    state store must merge sessions whose horizons differ per member
    when a later micro-batch bridges them — strictly harder state
    bookkeeping than the static streaming_session_30m, same oracle as
    the batch twin (3650-day watermark keeps every event so the two
    agree exactly)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.operators import windows as W
    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_q_")
    try:
        e.repartition(4).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = file_replay_source(spark, f"{tmp}/in", schema, max_files_per_trigger=2)
        agg = W.with_watermark(stream, "ts", "3650 days").groupBy(
            F.session_window(F.col("ts"), _dynamic_gap_col()).alias("win"),
            "user_id",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        out = drain_to_df(agg, f"stream_sess_dyn_{uuid.uuid4().hex[:8]}")
        res = out.select(
            "user_id",
            F.col("win.start").cast("long").alias("session_start"),
            F.col("win.end").cast("long").alias("session_end"),
            "n_events",
            "sum_value",
        ).localCheckpoint(eager=True)
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Set ops / distinct / pivot / rollup
# --------------------------------------------------------------------------

def distinct_segments(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def topk_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


def customers_without_orders(spark, sf_dir):
    """EXCEPT as scalable anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select("c_custkey")


def customers_with_orders(spark, sf_dir):
    """INTERSECT as semi-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select("c_custkey")


def pivot_event_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id").pivot("event_type", kinds).count().na.fill(0, kinds)
    )


def rollup_flag_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity")).alias("sum_qty")
    )


def json_extract_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Routing / sink algebra expressed as queries (SURVEY §2.5)
# --------------------------------------------------------------------------

def route_choose_counts(spark, sf_dir):
    """Decidable.choose (Tubes/Sink.hs:112-116): predicate routing."""
    e = _t(spark, sf_dir, "events")
    branch = F.when(F.col("value") >= 50, F.lit("hi")).otherwise(F.lit("lo"))
    return e.groupBy(branch.alias("branch")).agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value")
    )


def divide_parts(spark, sf_dir):
    """Divisible.divide (Tubes/Sink.hs:101-105): split each element into
    two parts feeding two sinks (modeled as a tagged union)."""
    e = _t(spark, sf_dir, "events")
    t = e.select(F.lit("time").alias("part"), "event_id",
                 F.col("ts").cast("long").cast("double").alias("payload"))
    v = e.select(F.lit("value").alias("part"), "event_id", F.col("value").alias("payload"))
    return t.unionByName(v)


# --------------------------------------------------------------------------
# Text analysis (north-star)
# --------------------------------------------------------------------------

def text_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens"),
                    text.word_count(F.col("text")).cast("long").alias("n_words"))


def text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


def text_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", text.lang_id(F.col("text")).alias("lang_pred"))


def text_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint_md5(F.col("text")).alias("fp"))


# --------------------------------------------------------------------------
# Dedup (north-star)
# --------------------------------------------------------------------------

def dedup_exact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_exact(d)


def jaccard_near_dup_pairs(spark, sf_dir):
    """Exact shingle-Jaccard >= 0.5 pairs with provably-lossless size-band
    blocking (J>=0.5 implies |A|,|B| within 2x).  Production path for the
    same result at scale: minhash_candidates + this verify step."""
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.array_distinct(text.word_shingles(F.col("text"), 3)).alias("sh"),
    ).withColumn("n", F.size("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb"))
    pairs = a.join(
        b,
        (F.col("id_a") < F.col("id_b")) & (F.col("na") <= 2 * F.col("nb")) & (F.col("nb") <= 2 * F.col("na")),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= 0.5)


def dedup_minhash_survivors(spark, sf_dir):
    """MinHash-LSH near-dedup (rows-only check: xxhash64 signatures are
    not reproducible in the SQL oracle)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_minhash(d, threshold=0.8).select("doc_id")


def dedup_simhash_survivors(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_simhash(d, bits=32).select("doc_id")


def dedup_simhash_near_survivors(spark, sf_dir):
    """SimHash near-dedup at hamming radius 2 via pigeonhole banding
    (rows-only: xxhash64 signatures have no SQL oracle).  Semantics are
    pinned against brute-force hamming pairs in
    tests/test_dedup_similarity.py."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_simhash(d, bits=32, radius=2).select("doc_id")


def dedup_minhash_cc_survivors(spark, sf_dir):
    """MinHash near-dedup with the connected-components survivor policy:
    exactly one doc (smallest id) kept per transitive near-dup cluster
    (rows-only; union-find semantics pinned in tests)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_minhash(d, threshold=0.8, policy="components").select("doc_id")


# --------------------------------------------------------------------------
# Similarity search (north-star)
# --------------------------------------------------------------------------

def knn_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.knn_bruteforce(emb, q, k=10).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def knn_lsh_approx(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.knn_lsh(emb, q, dim=64, k=10, n_planes=4).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def knn_ivf_distributed(spark, sf_dir):
    """IVF ANN with full-corpus distributed k-means training (rows-only:
    centroids are numpy-seeded).  Recall pinned vs brute force in
    tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.knn_ivf(
        emb, q, dim=64, k=10, n_cells=16, n_probe=4, train="distributed"
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def embedding_dedup_survivors(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dedup(emb, threshold=0.98, dim=64).select("vec_id")


# --------------------------------------------------------------------------
# TPC-H-shape battery (adapted to the synthetic schema): joins, semi/anti,
# correlated aggregates, disjunctive predicates, conditional aggregation.
# --------------------------------------------------------------------------

def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight filter + single agg — the pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q4_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS as left-semi join, grouped count."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q12_line_priority(spark, sf_dir):
    """TPC-H Q12 shape: join + conditional (CASE) aggregation."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(F.sum(hi).alias("high_line_count"),
             F.sum(1 - hi).alias("low_line_count"))
    )


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: broadcast dim join + conditional revenue ratio."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue_pct"))
        .select(F.round("promo_revenue_pct", 6).alias("promo_revenue_pct"))
    )


def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: max-revenue supplier(s) — rank over an exact
    decimal sum so the argmax is deterministic (no float-equality HAVING)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_exact"))
    w = Window.orderBy(F.col("rev_exact").desc())
    top = per_supp.withColumn("rnk", F.rank().over(w)).filter(F.col("rnk") == 1)
    return (
        top.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("rev_exact").cast("double").alias("total_revenue"))
    )


def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated aggregate (per-part avg quantity)
    decorrelated into a broadcast join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING on a grouped sum, then enrich via join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "sum_qty")
    )


def q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs join predicate (brand/size/qty bands) —
    planner must keep the equi-join key and push the residual."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    band1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15) & \
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
    band2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 30) & \
        (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 35)
    band3 = (F.col("p_type") == "PROMO") & (F.col("p_size") <= 50) & \
        (F.col("l_quantity") >= 20)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(band1 | band2 | band3).agg(
        dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (avg positive balance) + anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal), how="cross")
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum(F.col("c_acctbal")).alias("totacctbal"))
    )


def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: supplier-nation x customer-nation trade volume by
    year (two broadcast dims, one fact-fact join, date part extraction)."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", F.col("n_name").alias("supp_nation"))
    cn = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(dsum(rev).alias("volume"))
    )


def orders_by_month(spark, sf_dir):
    """Date-function family: truncate to month, count + exact sum."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("y"), F.month("o_orderdate").cast("long").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum(F.col("o_totalprice")).alias("month_total"))
    )


def string_funcs_parts(spark, sf_dir):
    """String-function family over part names (upper/substr/concat/
    levenshtein/replace) — all JVM expressions, portable to the oracle."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.levenshtein(F.col("p_name"), F.lit("red widget")).cast("long").alias("lev_widget"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake_name"),
    )


def orders_above_cust_avg(spark, sf_dir):
    """Correlated scalar subquery shape: orders above their customer's
    average order value — decorrelated as a per-key window average."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_exact = F.avg(F.col("o_totalprice").cast("decimal(27,6)")).over(w)
    return (
        o.withColumn("cust_avg", avg_exact.cast("double"))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", F.round("cust_avg", 6).alias("cust_avg"))
    )


# --------------------------------------------------------------------------
# More text analysis (north-star): TF-IDF, winnowing fingerprints
# --------------------------------------------------------------------------

def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms.  Rank on the 6-dp-rounded score
    (ties broken by term asc) so the ordering is engine-portable.

    The corpus size enters the plan as a broadcast one-row aggregate
    (same pattern as q11's threshold), NOT a driver-side ``d.count()``
    — no extra Spark job, no driver sync point mid-pipeline."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("__n_docs__"))
    words = d.select(
        "doc_id", F.explode(F.split(text.normalize(F.col("text")), " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doclen = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.round(
        (F.col("tf") / F.col("len"))
        * F.log((F.col("__n_docs__") + 1.0) / (F.col("df") + 1.0)),
        6,
    )
    scored = (
        tf.join(doclen, "doc_id")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs), how="cross")
        .select("doc_id", "term", score.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash fingerprint summary per document (k=8,
    w=4).  xxhash64-based, so no SQL oracle (rows-only check); semantics
    are pinned against a pure-python reference in tests."""
    d = _t(spark, sf_dir, "documents")
    out = text.winnow(d, "text", k=8, w=4)
    return out.select("doc_id", "n_fp", "fp_min", "fp_max")


def multimodal_bytes_stats(spark, sf_dir):
    """Multimodal plumbing: opaque binary payloads with typed metadata.
    The payload here is the utf8 encoding of the doc text (the container
    has no image libs); the byte-level plumbing is real."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.ascii(F.substring(F.col("text"), 1, 1)).cast("long").alias("first_byte"),
        # Spark MIME-chunks base64 with CRLF every 76 chars; strip for parity
        F.length(F.regexp_replace(F.base64(payload), r"[\r\n]", "")).cast("long").alias("b64_len"),
    )


def multimodal_features(spark, sf_dir):
    """Arrow-batched feature extraction over binary media columns
    (decode step is a deterministic fake; plumbing is real — schema,
    batching, null-safety).  Rows-only check; exact values pinned in
    tests/test_dedup_similarity.py::test_multimodal_feature_plumbing."""
    from tubes_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    out = extract_features(media, dim=8)
    return out.select(
        "media_id", "n_bytes", F.round(F.element_at("feature", 1), 6).alias("f0")
    )


def knn_ivf_approx(spark, sf_dir):
    """IVF (inverted-file) ANN: coarse k-means cells + multi-probe.
    Rows-only check; recall vs brute force pinned in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.knn_ivf(emb, q, dim=64, k=10, n_cells=16, n_probe=4).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def grouping_sets_priority_flag(spark, sf_dir):
    """Explicit GROUPING SETS — the general form rollup/cube specialize
    (rollup_flag_status / cube_priority_status cover those): exactly the
    requested group combinations, plus grouping_id to tell aggregate
    levels apart.  One Expand + one shuffle, same cost envelope as a
    rollup with the same set count."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping_id(o_orderpriority, o_orderstatus) AS INT) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


def orders_price_percentile(spark, sf_dir):
    """Distribution-position analytics: percent_rank and cume_dist of
    each order's price within its priority class — the remaining two
    ranking window functions the battery didn't yet pin (row_number/
    rank/ntile/lag/lead are covered elsewhere).  One shuffle on the
    partition key."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
    )


def ewma_user_values(spark, sf_dir):
    """Exponentially-weighted moving average of each user's event
    values in event order — the classic time-series smoothing feature.
    EWMA is a linear RECURRENCE (y_t = a*x_t + (1-a)*y_{t-1}), which no
    SQL window expresses without numerically-explosive pow() tricks, so
    this is the canonical batch ``applyInPandas`` use: one shuffle on a
    BUCKET of users (not per-user — per-key grouping pays one Arrow
    round-trip per key, ~1000 calls / 3.5 s at sf0.1; 64 buckets with
    one sequential pass inside cut it to 64 calls / ~1 s, same exact
    results, and bound task count at any user cardinality).

    FULLY oracle-gated (not rows-only): the recurrence is written out
    explicitly as ``a*x + (1-a)*y`` on IEEE doubles — NOT pandas'
    ``ewm`` whose internal ``(w*y + a*x)/(w + a)`` division is a
    version-dependent ulp away — so a DuckDB recursive CTE running the
    literally identical double expression in the same per-user order is
    bit-equal before the final 6dp round.  Values additionally pinned
    near pandas' ``ewm(alpha, adjust=False).mean()`` in tests."""
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    alpha = 0.3
    beta = 1.0 - alpha

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        users = pdf["user_id"].to_numpy()
        vals = pdf["value"].to_numpy()
        y = np.empty(len(vals), dtype=np.float64)
        prev_user, acc = None, 0.0
        for i in range(len(vals)):
            if users[i] != prev_user:
                prev_user, acc = users[i], vals[i]
            else:
                acc = alpha * vals[i] + beta * acc
            y[i] = acc
        return pd.DataFrame(
            {"event_id": pdf["event_id"].to_numpy(), "user_id": users, "ewma_value": y}
        )

    return (
        e.select("user_id", "event_id", "ts", "value")
        .withColumn("bucket", F.pmod(F.xxhash64("user_id"), F.lit(64)))
        .groupBy("bucket")
        .applyInPandas(
            lambda pdf: smooth(pdf.drop(columns=["bucket"])),
            schema="event_id long, user_id long, ewma_value double",
        )
        # NOT F.round: Spark rounds the double's exact decimal expansion
        # (HALF_UP on BigDecimal) while DuckDB multiplies by 1e6 and
        # nearbyints — 6 rows per 100k land on opposite sides of the
        # boundary.  floor(y*1e6 + 0.5)/1e6 is the same primitive double
        # expression in both engines, hence bit-equal.
        .withColumn(
            "ewma_value",
            F.floor(F.col("ewma_value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
    )


def multimodal_png_dims(spark, sf_dir):
    """End-to-end media-metadata path under the ORACLE gate: build a
    real PNG header per doc JVM-side (binary concat; width = derived
    from n_chars, so every row differs), parse it back with the
    stdlib header decoder (operators/multimodal.py::decode_headers,
    Arrow-batched), and check the recovered dimensions against pure
    arithmetic in DuckDB.  This upgrades the multimodal story from
    'unit-tested goldens' to driver-hash-verified: the binary column
    plumbing AND the parser agree with an independent engine on every
    row.

    Scale shape: two per-row projections (construct + parse) — no
    shuffle, no driver data."""
    from tubes_spark.operators.multimodal import decode_headers

    d = _t(spark, sf_dir, "documents")
    width = (F.col("n_chars") % 256 + 1).cast("int")
    payload = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),  # sig + IHDR
        F.unhex(F.lpad(F.hex(width), 8, "0")),                # width  (BE)
        F.unhex(F.lpad(F.hex(F.lit(48)), 8, "0")),            # height (BE)
        F.unhex(F.lit("0806000000")),                          # bit depth etc
    )
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        payload.alias("content"),
    )
    return decode_headers(media).select("media_id", "mime", "width", "height")


def _synth_bmp_media(d):
    """Complete 24bpp BMP per doc, built JVM-side (header + 8 gradient
    rows whose colors derive from doc fields; width varies per doc so
    row padding is exercised) — shared by the mean-RGB and aHash
    queries."""
    H = 8
    width = (F.col("n_chars") % 16 + 1).cast("long")
    stride = (F.floor((width * 3 + 3) / 4) * 4).cast("long")
    img_size = stride * H
    file_size = img_size + 54

    def le4(c):  # 4-byte little-endian hex of a small positive long
        c = c.cast("long")
        return F.concat(
            *[F.lpad(F.hex(F.shiftright(c, 8 * i) % 256), 2, "0") for i in range(4)]
        )

    header_hex = F.concat(
        F.lit("424D"), le4(file_size), F.lit("0000000036000000"),  # BM,size,res,offset
        F.lit("28000000"), le4(width), le4(F.lit(H)),               # DIB,w,h
        F.lit("01001800"), F.lit("00000000"), le4(img_size),        # planes,bpp,comp,size
        F.lit("00000000" * 4),                                       # ppm + palette
    )

    def chan_hex(c):
        return F.lpad(F.hex(c % 256), 2, "0")

    pad_hex = F.repeat(F.lit("00"), (stride - width * 3).cast("int"))

    def row_hex(r):  # one padded row: `width` identical BGR pixels
        px = F.concat(
            chan_hex(F.col("doc_id") + r),       # blue
            chan_hex(F.col("n_chars") + r * 2),  # green
            chan_hex(F.col("doc_id") * 3 + r),   # red
        )
        return F.concat(F.repeat(px, width.cast("int")), pad_hex)

    pixels_hex = F.aggregate(
        F.sequence(F.lit(0), F.lit(H - 1)),
        F.lit(""),
        lambda acc, r: F.concat(acc, row_hex(r)),
    )
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.unhex(F.concat(header_hex, pixels_hex)).alias("content"),
    )
    return media


def multimodal_bmp_mean_rgb(spark, sf_dir):
    """Real PIXEL-derived media features under the ORACLE gate: build a
    complete 24bpp BMP per doc JVM-side (header + 8 gradient rows whose
    colors derive from doc fields; width varies per doc so row padding
    is exercised), decode the pixels with the pure-stdlib BMP decoder
    (operators/multimodal.py::decode_bmp) through
    ``extract_features(decoder=bmp_mean_rgb)``, and check the mean-RGB
    feature against independent DuckDB arithmetic.  Channel sums are
    small integers and height is 8, so the float means are exact k/8
    rationals — bit-equal across engines, no rounding tolerance needed.
    This flips multimodal features from 'deterministic fake' to real
    decoded pixel values inside this container.

    Scale shape: two per-row projections (JVM binary construct + one
    Arrow-batched decode pass) — no shuffle, no driver data; binary
    stays executor-side."""
    from tubes_spark.operators.multimodal import bmp_mean_rgb, extract_features

    d = _t(spark, sf_dir, "documents")
    media = _synth_bmp_media(d)
    feats = extract_features(media, decoder=bmp_mean_rgb)
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("double").alias("mean_r"),
        F.element_at("feature", 2).cast("double").alias("mean_g"),
        F.element_at("feature", 3).cast("double").alias("mean_b"),
        "n_bytes",
    )


def multimodal_frame_sample(spark, sf_dir):
    """Video/audio frame-sampling fan-out under the ORACLE gate: each
    media row (typed MEDIA_META struct, duration derived per row)
    explodes to one row per 250 ms sample point —
    operators/multimodal.py::frame_sample_plan, the row-shape a real
    frame grabber fills with decoded bytes.  DuckDB generates the same
    series arithmetically, so the fan-out logic (inclusive bounds, zero
    anchor, empty-duration guard) is engine-verified row by row.

    Scale shape: pure explode — no shuffle; output rows =
    sum(duration/step) which the step parameter budgets."""
    from tubes_spark.operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents")
    dur = (F.col("n_chars") % 1000 + 100).cast("int")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            dur.alias("duration_ms"),
        ).alias("meta"),
    )
    out = frame_sample_plan(media, every_ms=250)
    return out.select("media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


def knn_pq_rerank(spark, sf_dir):
    """IVF-PQ-style two-stage ANN: product-quantized codes scored by
    asymmetric distance (m table lookups per candidate, no vector
    decompression), top-50 shortlist re-ranked exactly on the original
    vectors.  The 32x storage shrink (8-byte codes vs 256-byte vectors)
    is what keeps a billion-vector index in memory.  Rows-only check
    (numpy-seeded codebooks); recall vs brute force pinned in
    tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # shortlist scales with the corpus (see ann_recall_contract_check:
    # a fixed shortlist's recall collapses as the corpus grows)
    rerank = max(50, emb.count() // 8)
    return similarity.knn_pq_adc(
        emb, q, dim=64, k=10, m=8, n_codes=64, rerank=rerank
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def rollup_hour_day_week(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: hour -> day -> week,
    each coarser level re-aggregated from the previous level's partials
    (never from raw events)."""
    e = _t(spark, sf_dir, "events")
    out = windows.rollup_hierarchy(e, "ts", ["hour", "day", "week"], sum_col="value")
    return out.select(
        "level", F.col("bucket").cast("long").alias("bucket_start"), "n", "total"
    )


def interval_join_views_purchases(spark, sf_dir):
    """Interval join (batch twin of the stream-stream join test): each
    view paired with the same user's purchases within +/-1 hour.
    Equi-join on user_id carries the plan; the range is a residual
    filter — no quadratic blow-up as long as per-user activity in the
    interval is bounded."""
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("ts_v")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("user_id_p"),
        F.col("ts").alias("ts_p"), F.col("value").alias("purchase_value"),
    )
    j = v.join(
        p,
        (F.col("user_id") == F.col("user_id_p"))
        & (F.col("ts_p") >= F.col("ts_v") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts_p") <= F.col("ts_v") + F.expr("INTERVAL 1 HOUR")),
    )
    return j.select("view_id", "purchase_id", "user_id", "purchase_value")


def quantiles_by_priority(spark, sf_dir):
    """Exact interpolated percentiles per group (median & p90 of order
    value by priority)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


def sketch_distinct_users(spark, sf_dir):
    """Sketch family: HLL++ approximate distinct users per event type
    (rows-only: sketch internals differ across engines; accuracy vs the
    exact count is pinned in tests)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# TPC-H battery completion (schema-feasible subset) + analytic windows
# --------------------------------------------------------------------------

def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): NATION_0 suppliers' share
    of ECONOMY-part revenue sold to AMERICA-region customers, per order
    year.  Dims (part/supplier/nation/region) broadcast; the fact-side
    lineitem->orders join is the only shuffle."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nat_c = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")) \
             .select(F.col("n_nationkey").alias("cn_key"))
    nat_s = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                (F.sum(F.when(F.col("supp_nation") == "NATION_0", vol).otherwise(F.lit(0).cast("decimal(27,6)")))
                 / F.sum(vol)).cast("double"), 6).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )


def q13_cust_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count
    (LEFT OUTER join so zero-order customers appear as c_count=0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def lag_user_value_delta(spark, sf_dir):
    """lead/lag analytic window: per-user event-to-event value delta and
    seconds-since-previous, ordered by (ts, event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "event_id", "user_id",
        (F.col("value") - prev_v).alias("value_delta"),
        (F.col("ts").cast("long") - prev_ts.cast("long")).alias("secs_since_prev"),
    )


def cube_priority_status(spark, sf_dir):
    """CUBE with grouping_id: order counts/revenue across all subsets of
    (o_orderpriority, o_orderstatus) including grand total."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


def viewers_never_purchased(spark, sf_dir):
    """Set algebra: EXCEPT ALL over two distinct projections — users who
    viewed but never purchased."""
    e = _t(spark, sf_dir, "events")
    viewers = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return viewers.exceptAll(buyers).select("user_id")


def ntile_acctbal_quartiles(spark, sf_dir):
    """Account-balance quartiles per market segment — WITHOUT the
    global ``ntile(4)`` this query shipped with through round 10
    (VERDICT-r10 #4, the last unpartitioned-window table scan in the
    battery): the cut is now THREE exact percentile thresholds
    broadcast from a 1-row aggregate, the same plan the LM-perplexity
    filter proved out (``lm_stupid_backoff_filter``) — a map-side
    partial_percentile combine into one 1-row reduce, then a broadcast
    join back; no row ever crosses an Exchange SinglePartition.

    OUTPUT CHANGED with the oracle in lockstep: ntile is positional
    (equal balances could straddle a quartile boundary via the custkey
    tiebreak), the threshold cut is value-based (equal balances always
    share a quartile — the defensible analytics contract, and the only
    one that scales).  Strict ``>`` comparisons keep the interpolated
    cuts cross-engine-stable: the quantile fractions are exactly
    0/.25/.5/.75, so both engines' thresholds land strictly between
    the same pair of adjacent 2-decimal balances (the
    curriculum_phases discipline)."""
    c = _t(spark, sf_dir, "customer")
    bounds = c.agg(
        F.percentile(F.col("c_acctbal"), F.lit(0.25)).alias("t1"),
        F.percentile(F.col("c_acctbal"), F.lit(0.5)).alias("t2"),
        F.percentile(F.col("c_acctbal"), F.lit(0.75)).alias("t3"),
    )
    quart = (
        F.lit(1)
        + (F.col("c_acctbal") > F.col("t1")).cast("int")
        + (F.col("c_acctbal") > F.col("t2")).cast("int")
        + (F.col("c_acctbal") > F.col("t3")).cast("int")
    )
    q = c.crossJoin(F.broadcast(bounds)).withColumn(
        "quartile", quart.cast("long")
    )
    return q.groupBy("c_mktsegment", "quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
    )


def streaming_takewhile_prefix(spark, sf_dir):
    """Streaming `takeWhile` under the full oracle gate (Tubes/Util.hs:
    104-113 ends the WHOLE stream at the first violation): events replay
    as an event-id-ordered multi-file stream; `take_while_stream` emits
    rows while event_id < 600, emits the violating batch's prefix, and
    suppresses everything after.  The emitted set must equal the batch
    prefix — oracle `WHERE event_id < 600`."""
    import os
    import shutil
    import tempfile

    from tubes_spark.streaming.run import file_replay_source, take_while_stream

    e = _t(spark, sf_dir, "events").select("event_id", "value")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_tw_")
    try:
        # range-partitioned files: part-0000N covers ascending id ranges,
        # mtimes forced increasing so replay order == event order
        (e.repartitionByRange(4, "event_id").sortWithinPartitions("event_id")
         .write.parquet(f"{tmp}/in"))
        parts = sorted(f for f in os.listdir(f"{tmp}/in") if f.endswith(".parquet"))
        for i, fname in enumerate(parts):
            os.utime(f"{tmp}/in/{fname}", (1_700_000_000 + i, 1_700_000_000 + i))
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = file_replay_source(spark, f"{tmp}/in", schema, max_files_per_trigger=1)
        rows: list = []
        take_while_stream(
            stream,
            F.col("event_id") < 600,
            "event_id",
            lambda bdf: rows.extend(bdf.collect()),
            checkpoint=f"{tmp}/ck",
            available_now=True,
        )
        if not rows:
            return spark.createDataFrame([], "event_id long, value double")
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_tumbling_hourly(spark, sf_dir):
    """The tumbling-window aggregation run through the REAL Structured
    Streaming engine (not the batch twin): events replayed as a
    multi-batch file stream, windowed count/sum, AvailableNow drain into
    a memory sink.  Hash-checked against the same DuckDB oracle as the
    batch `tumbling_hourly` — streaming and batch must agree exactly
    (the decimal sum makes the result micro-batch-order-independent)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_q_")
    try:
        e.repartition(4).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = file_replay_source(spark, f"{tmp}/in", schema, max_files_per_trigger=2)
        agg = stream.groupBy(F.window("ts", "1 hour").alias("win")).agg(
            F.count(F.lit(1)).alias("window_count"),
            dsum(F.col("value")).alias("window_sum"),
        )
        out = drain_to_df(agg, f"stream_tumbling_{uuid.uuid4().hex[:8]}")
        res = out.select(
            F.col("win.start").cast("long").alias("window_start"),
            "window_count", "window_sum",
        )
        res = res.cache()
        res.count()  # pin rows before the input files are removed
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def dropwhile_prefix(spark, sf_dir):
    """`dropWhile` dual of takeWhile: skip the ordered prefix while the
    predicate holds; keep everything from the first violation on.  Same
    one-row cut-bound broadcast — two scans, no wide shuffle."""
    o = _t(spark, sf_dir, "orders")
    src = Source.from_df_keyed(o.select("o_orderkey", "o_totalprice"), F.col("o_orderkey"))
    return src.drop_while(F.col("o_totalprice") < 150000).data


def streaming_resumable_fold(spark, sf_dir):
    """The reference's resumable fold (lfold, Tubes/Util.hs:158-181) on
    the REAL streaming state store: per-user accumulator updated by
    applyInPandasWithState across micro-batches, final state per key
    recovered as the max-n update row.  Values are floored to integer
    millis before folding so float addition is associative — the result
    is byte-identical no matter how the stream is batched, which is
    also what lets the fold take the VECTORIZED op='sum' fast path
    (per-batch C reduce + scalar merge) instead of a per-row Python
    loop, with the oracle hash-checking the equivalence."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, file_replay_source
    from tubes_spark.streaming.state import running_fold

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_fold_")
    try:
        e.select(
            "user_id", F.floor(F.col("value") * 1000).cast("double").alias("v")
        ).repartition(4).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = file_replay_source(spark, f"{tmp}/in", schema, max_files_per_trigger=2)
        folded = running_fold(stream, ["user_id"], "v", op="sum")
        out = drain_to_df(folded, f"stream_fold_{uuid.uuid4().hex[:8]}", output_mode="update")
        w = Window.partitionBy("key").orderBy(F.col("n").desc())
        final = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        res = final.select(
            F.col("key").cast("long").alias("user_id"),
            F.col("acc").cast("long").alias("total_millis"),
            F.col("n").alias("n_events"),
        )
        res = res.cache()
        res.count()  # pin rows before the input files are removed
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_fold_rocksdb(spark, sf_dir):
    """The resumable keyed fold with its state on the ROCKSDB state
    store (changelog checkpointing on) — same protocol, same oracle as
    `streaming_resumable_fold`, so the driver's hash gate itself proves
    the fold's emissions are state-store-provider-independent.

    Why it matters at 100 TB: the default HDFSBacked provider keeps
    every key's state on the executor HEAP; at production key
    cardinality that heap is the first thing to die.  RocksDB puts
    state on local disk with a block-cache in front and uploads
    per-batch changelogs instead of full snapshots — Spark's own
    production answer, enabled purely by configuration
    (`session.state_store_rocksdb`).  The provider swap must not move
    a single output byte, and this query makes that a driver-checked
    invariant rather than a tests-only claim."""
    from tubes_spark.session import state_store_rocksdb

    with state_store_rocksdb(spark):
        return streaming_resumable_fold(spark, sf_dir)


def skew_salted_enrich_join(spark, sf_dir):
    """The salted JOIN path under the oracle gate (salted aggregation
    already has ``skew_salted_type_counts``): a deliberately skewed
    fact key (two thirds of events collapse onto k=0) joined to a
    100-row dim through ``operators.skew.skew_join(strategy='salt')``
    — the mitigation that works even where AQE cannot see the skew
    (bucketed SMJ plans).  Every (key, salt) bucket is bounded at
    hot/16, and the join result is salt-invariant by construction,
    which is exactly what the hash gate checks.

    Float discipline: value milli-units floored to BIGINT before the
    weighted sum."""
    from tubes_spark.operators.skew import skew_join

    e = _t(spark, sf_dir, "events")
    fact = e.select(
        F.when(F.col("event_id") % 3 < 2, F.lit(0))
        .otherwise(F.pmod(F.col("user_id"), F.lit(100))).alias("k"),
        F.floor(F.col("value") * 1000).alias("vm"),
        "event_type",
    )
    dim = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w")
    )
    j = skew_join(fact, dim, ["k"], strategy="salt")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("vm") * F.col("w")).alias("weighted"),
    )


def skew_salted_type_counts(spark, sf_dir):
    """Skew tooling under the oracle gate: two-phase salted fold on the
    (skewed) event_type key — phase 1 sprays each hot key across 8 salts,
    phase 2 merges partials; both shuffles carry only (key, salt) rows."""
    from tubes_spark.operators.skew import salted_fold_by

    e = _t(spark, sf_dir, "events")
    out = salted_fold_by(
        e, ["event_type"], n_salts=8,
        n_events=(F.count(F.lit(1)), "sum"),
        total=(F.sum(F.col("value").cast("decimal(27,6)")), "sum"),
        max_value=(F.max("value"), "max"),
    )
    return out.select(
        "event_type", "n_events",
        F.col("total").cast("double").alias("total"), "max_value",
    )


def sql_api_revenue_by_segment(spark, sf_dir):
    """The engine's SQL surface: the same declarative plan expressed via
    spark.sql over registered temp views (Catalyst treats it identically
    to the DataFrame form — one optimizer, two front-ends)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """)


def streaming_interval_join(spark, sf_dir):
    """Stream-STREAM join through the real engine: views and purchases
    replayed as two independent file streams, joined on user_id within
    +/-1 hour, both sides watermarked so join state is evictable.  Inner
    joins emit exactly the matched rows, so the drained result must
    hash-match the BATCH interval join's oracle — one oracle, two
    execution engines."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_ssj_")
    try:
        e.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("ts_v")
        ).repartition(4).write.parquet(f"{tmp}/v")
        e.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), F.col("user_id").alias("user_id_p"),
            F.col("ts").alias("ts_p"), F.col("value").alias("purchase_value"),
        ).repartition(4).write.parquet(f"{tmp}/p")
        v = file_replay_source(
            spark, f"{tmp}/v", spark.read.parquet(f"{tmp}/v").schema, max_files_per_trigger=2
        ).withWatermark("ts_v", "30 days")
        p = file_replay_source(
            spark, f"{tmp}/p", spark.read.parquet(f"{tmp}/p").schema, max_files_per_trigger=2
        ).withWatermark("ts_p", "30 days")
        j = v.join(
            p,
            (F.col("user_id") == F.col("user_id_p"))
            & (F.col("ts_p") >= F.col("ts_v") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("ts_p") <= F.col("ts_v") + F.expr("INTERVAL 1 HOUR")),
        ).select("view_id", "purchase_id", "user_id", "purchase_value")
        out = drain_to_df(j, f"stream_ssj_{uuid.uuid4().hex[:8]}", output_mode="append")
        out = out.cache()
        out.count()  # pin rows before the input files are removed
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_distinct_users(spark, sf_dir):
    """Streaming dropDuplicates: exactly-once emission of each user_id
    across micro-batches (keyed state store holds the seen-set)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_dd_")
    try:
        e.select("user_id").repartition(4).write.parquet(f"{tmp}/in")
        stream = file_replay_source(
            spark, f"{tmp}/in", spark.read.parquet(f"{tmp}/in").schema, max_files_per_trigger=2
        )
        out = drain_to_df(
            stream.dropDuplicates(["user_id"]),
            f"stream_dd_{uuid.uuid4().hex[:8]}", output_mode="append",
        )
        out = out.cache()
        out.count()
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_merge_union(spark, sf_dir):
    """`merge` (Tubes/Source.hs:180-193) in streaming form: two live
    streams unioned into one.  Arrival order is nondeterministic across
    micro-batches, so the contract is multiset equality — the drained
    union must contain exactly every row of both inputs (the oracle is
    the batch UNION ALL)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_mrg_")
    try:
        cols = ["event_id", "user_id", "event_type", "value"]
        e.filter(F.col("event_id") % 2 == 0).select(*cols).repartition(4).write.parquet(f"{tmp}/a")
        e.filter(F.col("event_id") % 2 == 1).select(*cols).repartition(4).write.parquet(f"{tmp}/b")
        schema = spark.read.parquet(f"{tmp}/a").schema
        a = file_replay_source(spark, f"{tmp}/a", schema, max_files_per_trigger=2)
        b = file_replay_source(spark, f"{tmp}/b", schema, max_files_per_trigger=2)
        out = drain_to_df(
            a.unionByName(b), f"stream_mrg_{uuid.uuid4().hex[:8]}", output_mode="append"
        )
        out = out.cache()
        out.count()  # pin rows before the input files are removed
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# TPC-H battery completion: the six remaining shapes (q2/q9/q11/q16/q20/q21),
# reshaped onto the driver schema — there is no partsupp table and lineitem
# has no commit/receipt dates, so each docstring states the substitution;
# the defining plan structure of every query is preserved.
# --------------------------------------------------------------------------

def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated-MIN scalar subquery + region-filtered
    dim chain.  "Supply cost" is reshaped to the unit price the supplier
    actually charged (l_extendedprice / l_quantity — IEEE-exact on both
    engines).  Spark-first: the correlated subquery becomes a
    row_number window per part (one shuffle on l_partkey) instead of a
    self-join; dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    sn = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_price").asc(), F.col("s_suppkey").asc()
    )
    best = (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(F.broadcast(p.filter(F.col("p_size") >= 30)),
                  F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand", "s_name", "n_name", "unit_price", "s_acctbal")
    )


def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape: product-line profit by supplier nation x order
    year — LIKE filter on p_name, 5-way join, two-term amount
    expression.  partsupp is absent, so supply cost is proxied by
    p_retailprice * l_quantity (per-row IEEE, engine-identical)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
    )


def q11_part_value_concentration(spark, sf_dir):
    """TPC-H Q11 shape: grouped value filtered against a global-scalar
    threshold (HAVING SUM > fraction * SUM over everything).  Inventory
    value is reshaped to shipped value per part.  The scalar side is a
    one-row aggregate broadcast back into the plan — the grouped side
    is scanned once, and no collect() touches the driver."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(dsum(F.col("l_extendedprice")).alias("value"))
    thr = li.agg((dsum(F.col("l_extendedprice")) * F.lit(0.0007)).alias("__thr__"))
    return (
        per.join(F.broadcast(thr), how="cross")
        .filter(F.col("value") > F.col("__thr__"))
        .select("l_partkey", "value")
    )


def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier count per (brand, type, size)
    with a NOT-IN supplier blacklist.  partsupp reshaped to the
    supplier-part pairs observed in lineitem; the blacklist (complaint
    suppliers in TPC-H) is suppliers with negative account balance.
    Spark-first: NOT IN becomes a broadcast left-anti join (the
    blacklist is tiny); the distinct count shuffles once on the group
    key."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        pairs.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_heavy_part_shippers(spark, sf_dir):
    """TPC-H Q20 shape: semi-join chain gated by a correlated aggregate
    threshold — suppliers who shipped more than 20% of a part's total
    recent volume (availqty > half-of-shipped reshaped; no partsupp).
    Spark-first: the correlated scalar becomes a window sum over the
    per-(part, supplier) partials — lineitem is scanned ONCE (the
    part-level total is the exact decimal sum of the per-supplier
    decimal partials, so no second scan and no precision drift), and
    the supplier projection is a left-semi join, so supplier rows are
    never duplicated."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    recent = li.filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
    per_ps = recent.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("__qdec__")
    )
    wp = Window.partitionBy("l_partkey")
    heavy = (
        per_ps.withColumn(
            "__thr__", F.sum("__qdec__").over(wp).cast("double") * F.lit(0.2)
        )
        .filter(F.col("__qdec__").cast("double") > F.col("__thr__"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


def q21_sole_return_supplier(spark, sf_dir):
    """TPC-H Q21 shape: for multi-supplier finished orders, the supplier
    that was the ONLY one with returned lines — the classic EXISTS /
    NOT-EXISTS double correlation.  No commit/receipt dates in this
    schema, so "kept waiting" is reshaped to l_returnflag = 'R'.
    Spark-first: both correlations collapse into a two-level aggregate —
    (order, supplier) partials first, then per-order stats.  Two
    countDistincts in one agg would force an Expand (2x shuffle volume);
    the two-level form shuffles lineitem once, and the per-order stats
    AND the culprit rows both derive from the same (order, supplier)
    frame, so the exchange is planned once and reused."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ps = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum((F.col("l_returnflag") == "R").cast("int")).alias("n_r_lines")
    )
    per = ps.groupBy(F.col("l_orderkey").alias("agg_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("n_r_lines") > 0).cast("int")).alias("n_ret"),
    )
    target = per.filter((F.col("n_supp") >= 2) & (F.col("n_ret") == 1))
    returned = ps.filter(F.col("n_r_lines") > 0)
    return (
        returned.join(target, F.col("l_orderkey") == F.col("agg_orderkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.sum("n_r_lines").alias("numwait"))
    )


# --------------------------------------------------------------------------
# Training-data pipeline extensions, round 2: reproducible splits/sampling,
# PII scrubbing, repetition-based quality, and embedding-column analytics.
# All pure column expressions (JVM-side, whole-stage codegen) — no RNG, no
# Python in the hot path — so results are identical across engines, runs,
# and partitionings: the property a 100 TB curation pipeline needs for
# reproducible dataset cards.
# --------------------------------------------------------------------------

def split_train_test_hash(spark, sf_dir):
    """Deterministic train/test split: md5(doc_id) against a hex cutoff
    ('cccc' ~ 80%).  Unlike randomSplit/sampleBy this is stable under
    re-runs, repartitioning, and engine changes, and needs no shuffle —
    it's a per-row projection that scales linearly."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        F.when(h < "cccc", "train").otherwise("test").alias("split"),
    )


def sample_stratified_docs(spark, sf_dir):
    """Stratified deterministic sampling: per-stratum hash cutoffs (en
    25%, other languages 50%) — downsample the dominant language while
    keeping the tail, the standard corpus-balancing move.  Same
    hash-cutoff trick as split_train_test_hash: no RNG state, no
    sampleBy approximation, exactly reproducible."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    cut = F.when(F.col("lang") == "en", F.lit("4")).otherwise(F.lit("8"))
    return d.filter(h < cut).select("doc_id", "lang", "source")


def pii_redact_docs(spark, sf_dir):
    """PII scrub stage: email and phone-shaped spans replaced with
    typed placeholder tokens.  The synthetic corpus carries no real
    PII, so a contact string is fabricated per row (source + doc_id @
    example.com + a phone) and then scrubbed — the regexes are the
    production artifact, kept to the Java/RE2 common subset so the
    same patterns run on any engine.  Per-row regexp_replace chain:
    JVM codegen, no UDF."""
    d = _t(spark, sf_dir, "documents")
    contact = F.concat(
        F.col("source"), F.lit("+"), F.col("doc_id").cast("string"),
        F.lit("@example.com ph 555-0142"),
    )
    red = F.regexp_replace(
        F.regexp_replace(contact, "[a-z0-9+._]+@[a-z0-9.]+", "<EMAIL>"),
        "[0-9][0-9-]+[0-9]", "<PHONE>",
    )
    n_emails = (F.length(contact) - F.length(
        F.regexp_replace(contact, "@", "")
    )).cast("long")
    return d.select("doc_id", red.alias("redacted"), n_emails.alias("n_emails"))


def quality_repetition_ratio(spark, sf_dir):
    """Repetition-based quality signals per document: top-term ratio
    (max term frequency / total terms) and type-token ratio (distinct /
    total) — the cheap screens that catch boilerplate and degenerate
    repetition in web corpora.  Two-level aggregation, both keyed on
    doc_id, so the second agg is shuffle-free after the first."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(text.normalize(F.col("text")), " ")).alias("w")
    )
    per = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias("top_term_ratio"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias("type_token_ratio"),
        F.sum("c").alias("n_words"),
    )


def embedding_norms(spark, sf_dir):
    """Vector-column analytics: L2 norm per embedding via JVM
    higher-order functions (transform + aggregate) — the float32 array
    never crosses into Python.  Elements cast to double before
    squaring so the sequential fold is engine-identical; sqrt rounded
    to 6 (transcendental discipline)."""
    e = _t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
    )


def embedding_centroids(spark, sf_dir):
    """Per-label centroids of the embedding column: posexplode to
    (label, dim, value), decimal-exact mean per cell.  This is the
    k-means update step / class-prototype computation expressed as one
    grouped aggregation — shuffles once on (label, pos), partial
    aggregation map-side, no Python."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("label", "pos").agg(
        (dsum(F.col("x").cast("double")) / F.count(F.lit(1))).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Training-data pipeline extensions, round 3: benchmark decontamination,
# sequence packing, percentile length filtering, and SemDeDup-style
# semantic dedup.  Same discipline as the round-2 block: deterministic,
# no RNG, nothing driver-side that scales with the corpus.
# --------------------------------------------------------------------------

def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with the held-out eval set (sources src0/src1 stand in
    for the benchmark).  The standard pre-training hygiene step (GPT-3
    appendix C / PaLM-style 'n-gram overlap' decontamination).

    Scale shape: the benchmark side of the join is an eval suite —
    MBs against a 100 TB corpus — so its distinct shingle set is
    BROADCAST: the corpus-side shingle stream never shuffles, making
    this a map-side semi-join per corpus split.  Shingles join on the
    string here for oracle portability; at scale hash them to 64-bit
    first (xxhash64) so the broadcast table is 8 bytes/row.  Tokens are
    materialized into a column before shingling (codegen substitutes
    children textually — an inline split would re-split per shingle)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split(text.normalize(F.col("text")), " ").alias("w")
    )
    sh = toks.select(
        "doc_id", "source",
        F.explode(text.word_shingles_from_tokens(F.col("w"), 5)).alias("g"),
    )
    is_bench = F.col("source").isin("src0", "src1")
    bench = sh.filter(is_bench).select("g").distinct()
    train = sh.filter(~is_bench)
    # join BEFORE dedup: the broadcast join is map-side and hits are
    # rare, so the only corpus-wide shuffle is the final distinct-count
    # on doc_id — never the raw shingle stream
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared"))
    )


def pack_sequences_bins(spark, sf_dir):
    """Greedy sequence packing for training-batch assembly: shard the
    corpus (doc_id % 8), order each shard by doc_id, and cut bins where
    the running token count crosses multiples of the 512-token budget
    (bin = floor(tokens_before / budget) — the concat-then-chunk packing
    used for LLM pretraining, where a document may straddle a boundary).

    Scale shape: the window is PARTITIONED by shard, so each shard's
    running sum is an independent task — packing parallelism = shard
    count (pick shards ~ cluster cores at 100 TB), no global sort, no
    single-partition funnel.  Deterministic: same data -> same bins,
    regardless of partitioning or executor count."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        text.token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        c.withColumn("bin", F.floor(F.col("cum_before") / 512))
        .groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def docs_length_band(spark, sf_dir):
    """Percentile length filter: keep documents whose n_chars falls in
    the [p05, p95] band — the distribution-relative outlier screen that
    drops truncated fragments and concatenation accidents without a
    hand-tuned absolute cutoff.

    Scale shape: one tiny all-reduce (the two exact percentiles -> one
    row) cross-joined broadcast onto a per-row filter — the corpus
    itself never shuffles (same one-row-agg pattern as q11's threshold).
    Cutoffs are rounded to 6 decimals before comparing so an ulp of
    interpolation difference between engines cannot move an integer
    across the boundary."""
    d = _t(spark, sf_dir, "documents")
    b = d.agg(
        F.round(F.percentile(F.col("n_chars"), F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.95)), 6).alias("hi"),
    )
    return (
        d.join(F.broadcast(b))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars", "lang")
    )


def semantic_dedup_survivors(spark, sf_dir):
    """SemDeDup over the embeddings table: k-means cells + within-cell
    cosine pruning (similarity.semantic_dedup).  Rows-only for the
    driver (centroid init is seed-dependent); semantics are pinned in
    tests against a brute-force within-cell scan."""
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(e, threshold=0.95, dim=64, n_cells=16)
    return out.select("vec_id", "label")


def streaming_session_30m(spark, sf_dir):
    """Session windows through the REAL Structured Streaming engine:
    events replayed as a multi-batch file stream, native session_window
    aggregation (gap-merging handled by the streaming state store as
    sessions grow across micro-batches), AvailableNow drain.  The one
    windowing form whose streaming semantics genuinely differ from a
    batch groupBy — sessions must MERGE when a later micro-batch
    bridges two previously-separate sessions — so it is hash-checked
    against the identical DuckDB oracle as batch session_30m.  The
    3650-day watermark keeps every event (no late-drop) so streaming
    and batch agree exactly; production sets a real delay and trades
    exactness for bounded state."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.operators import windows as W
    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_q_")
    try:
        e.repartition(4).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = file_replay_source(spark, f"{tmp}/in", schema, max_files_per_trigger=2)
        agg = windows.session(
            W.with_watermark(stream, "ts", "3650 days"),
            "ts", "30 minutes", ["user_id"],
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        out = drain_to_df(agg, f"stream_session_{uuid.uuid4().hex[:8]}")
        res = out.select(
            "user_id",
            F.col("win.start").cast("long").alias("session_start"),
            F.col("win.end").cast("long").alias("session_end"),
            "n_events",
            "sum_value",
        )
        res = res.cache()
        res.count()  # pin rows before the input files are removed
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_radius_neighbors(spark, sf_dir):
    """Cosine range search: all corpus vectors within cos_sim >= 0.3 of
    the 50 query vectors (similarity.radius_neighbors) — the
    fixed-radius retrieval mode (dedup sweeps, recall-first retrieval)
    next to top-k.  Exact and oracle-gated; shuffle-free plan."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    return similarity.radius_neighbors(emb, q, threshold=0.3).select(
        "query_id", "neighbor_id", "cos_sim"
    )


def sample_per_lang_hash(spark, sf_dir):
    """Deterministic per-group sampling: the first 100 docs per language
    by md5(doc_id) — a seedable, engine-portable 'random' sample that is
    reproducible across runs, partitionings, and cluster sizes (the
    property .sample() lacks).  The standard way to cut eval slices from
    a training corpus.

    Scale shape: one shuffle on lang + a per-group top-k window; at
    100 TB swap row_number for a per-group approximate threshold if
    group counts are huge, but k=100 per group keeps state trivial."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 100)
    )


def shard_assign_stats(spark, sf_dir):
    """Deterministic global shuffle + sharding: route every document to
    one of 64 output shards by two md5 hex nibbles of its id — the final
    'shuffle the corpus and write N training shards' step, reproducible
    on any engine (md5 is portable where xxhash64/.repartition are not).
    Emits per-shard doc and token counts (the balance check run before a
    training job).

    Scale shape: pure per-row projection + one narrow int-key shuffle
    for the agg; the real writer would repartition(shard) and write —
    same single shuffle."""
    d = _t(spark, sf_dir, "documents")
    nib = "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), {}, 1)) - 1"
    shard = ((F.expr(nib.format(1)) * 16 + F.expr(nib.format(2))) % 64).cast("int")
    return (
        d.select(shard.alias("shard"), text.token_count(F.col("text")).alias("n_tokens"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def decontaminate_minhash(spark, sf_dir):
    """Near-duplicate decontamination: flag training docs whose shingle
    Jaccard against any benchmark doc (sources src0/src1) reaches 0.8 —
    the fuzzy complement of decontaminate_ngram for lightly-reworded
    eval leaks (dedup.cross_corpus_flags: one corpus-wide band shuffle,
    benchmark side fully broadcast).  Rows-only for the driver (minhash
    banding is xxhash64-seeded); recall pinned in tests against exact
    cross-corpus Jaccard."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("source").isin("src0", "src1")).select("doc_id")
    return dedup.cross_corpus_flags(d, bench, threshold=0.8)


def partitioned_io_pruned(spark, sf_dir):
    """Partition-pruned IO round-trip: write the corpus hive-partitioned
    by lang, read it back filtered to two languages, aggregate.  The
    layout decision that matters most at 100 TB: a lang-filtered scan
    touches ONLY the matching directories (plan-asserted PartitionFilters
    in tests) — data for other langs is never opened, so the scan cost
    scales with the selected fraction, not the corpus."""
    import shutil
    import tempfile

    from tubes_spark import sources

    d = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="tubes_part_io_")
    try:
        sources.write_parquet(d, f"{tmp}/docs", partition_by=["lang"])
        back = sources.read_parquet(spark, f"{tmp}/docs")
        out = (
            back.filter(F.col("lang").isin("en", "de"))
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        )
        out = out.cache()
        out.count()  # pin rows before the backing files are removed
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# per-(len_band, band) group-size cap for the banded blocking below: a
# group above this size is split by a secondary deterministic key so
# candidate generation stays bounded under adversarial skew (see the
# docstring's recall contract)
_BAND_CAP = 200
_LINK_CAP = 200  # record-linkage block cap (see record_linkage_entities)


def bucketed_dedup_enrich_join(spark, sf_dir):
    """The bucketed-table WRITE path plus the shuffle-free REPEATED
    join it buys — the 100 TB move for dedup candidate enrichment.
    Documents are written through ``sources.write_bucketed`` (corpus-
    sized hash buckets on doc_id, sorted within buckets) and read back through the
    catalog; candidate pairs (blocked on a coarse length band x 4-bit
    md5 content band — SimHash-band-flavored blocking, never all-pairs)
    are then joined back to the bucketed table TWICE (doc_a side, doc_b
    side) to fetch each side's length for the similarity screen.

    The point at scale: every dedup pipeline replays this "candidates x
    corpus" join per band table and per incremental batch.  Against a
    plain parquet corpus each replay shuffles the CORPUS; against the
    bucketed table the corpus side needs NO Exchange ever — only the
    (small) candidate side moves, and the bucket-side sort is already
    on disk.  tests/test_round6.py asserts the docs side of this exact
    plan is Exchange-free with broadcast disabled.

    **Band-size cap (r9, VERDICT-r8 #6):** an adversarially skewed crawl
    (or the 100x synth's 99-replica construction) can concentrate a
    whole corpus into a few (len_band, band) groups, making in-band
    candidate generation ~group_size^2 — 156M pairs at the r8 100x
    probe.  Any group larger than ``_BAND_CAP`` docs is therefore split
    by a SECONDARY deterministic blocking key (the next md5 hex digit),
    bounding its pair count at ~(size/16)^2 per subgroup.  Recall
    contract: a dropped pair always differs in that second digit —
    pairs agreeing on (len_band, band, band2) are NEVER dropped
    (tests/test_round9.py pins both) — and in a real multi-band LSH
    scheme the same pair still collides in its other band tables, so
    the cap trades a documented sliver of single-band recall for a
    hard bound on worst-case cost.  The cap never fires on the
    un-amplified corpus (groups are ~3 docs at sf0.1), so the oracle
    exercises the uncapped path at every gate SF while the CASE sits
    identically in both engines.

    Correctness is oracle-gated on the full join result, so the
    bucketed write/read round-trip itself is hash-verified."""
    import hashlib
    import shutil
    import tempfile

    from tubes_spark import sources

    d = _t(spark, sf_dir, "documents")
    band = F.conv(F.substring(F.md5(F.col("text")), 1, 1), 16, 10).cast("int")
    band2 = F.conv(F.substring(F.md5(F.col("text")), 2, 1), 16, 10).cast("int")
    slim = d.select(
        "doc_id",
        "n_chars",
        F.floor(F.col("n_chars") / 10).alias("len_band"),
        band.alias("band"),
        band2.alias("band2"),
    )
    # per-run discriminator: two sessions sharing a warehouse on the
    # same sf_dir must not collide on the table name (or DROP each
    # other's table mid-query)
    run_id = spark.sparkContext.applicationId.replace("-", "_")
    tag = hashlib.md5(f"{sf_dir}|{run_id}".encode()).hexdigest()[:12]
    tbl = f"tubes_docs_bkt_{tag}"
    tmp = tempfile.mkdtemp(prefix="tubes_bkt_")
    try:
        # n_buckets=None: sized to the corpus (bytes/128MB, floor 8) —
        # fixed-8 was the r7 x100 probe's write-bound outlier
        sources.write_bucketed(
            slim, tbl, ["doc_id"], None, path=f"{tmp}/docs", sort_cols=["doc_id"]
        )
        bt = sources.read_table(spark, tbl)
        # per-group sizes: one tiny aggregate (<= #len_bands x 16 rows,
        # bounded by the blocking scheme, not the corpus) — broadcast
        sizes = bt.groupBy("len_band", "band").agg(
            F.count(F.lit(1)).alias("grp_n")
        )
        salted = bt.join(F.broadcast(sizes), ["len_band", "band"]).withColumn(
            "salt",
            F.when(F.col("grp_n") > _BAND_CAP, F.col("band2")).otherwise(F.lit(-1)),
        )
        ca = salted.select(
            F.col("doc_id").alias("doc_a"), "len_band", "band", "salt"
        )
        cb = salted.select(
            F.col("doc_id").alias("doc_b"), "len_band", "band", "salt"
        )
        cand = (
            ca.join(cb, ["len_band", "band", "salt"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        j = (
            cand.join(bt.select("doc_id", F.col("n_chars").alias("len_a")),
                      F.col("doc_a") == F.col("doc_id")).drop("doc_id")
            .join(bt.select("doc_id", F.col("n_chars").alias("len_b")),
                  F.col("doc_b") == F.col("doc_id")).drop("doc_id")
        )
        out = j.select(
            "doc_a",
            "doc_b",
            "len_a",
            "len_b",
            F.round(
                F.least("len_a", "len_b") / F.greatest("len_a", "len_b"), 6
            ).alias("len_ratio"),
        )
        # localCheckpoint, not cache(): DROP TABLE cascades a cache
        # invalidation to every cached plan referencing the table, so a
        # cached result would silently recompute against deleted files;
        # the checkpoint materializes the blocks and CUTS the lineage
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(tmp, ignore_errors=True)


def dedup_band_cap_stats(spark, sf_dir):
    """The band-cap accounting query (VERDICT-r8 #6), sized so the cap
    FIRES on the gate corpus: blocking groups are the coarse
    (floor(n_chars/200), first-md5-digit) bands — ~16-30 docs each at
    sf0.01 — and any group over 25 docs splits on the second md5 digit.
    Emits, per group: its size, whether the cap engaged, the candidate
    pairs an uncapped self-join would generate, and the pairs the
    capped blocking actually admits.  The hash gate thereby pins BOTH
    sides of the cap's contract: the exact split point (a one-doc
    miscount moves `capped`) and the exact pair arithmetic
    (sum of c*(c-1)/2 over subgroups).

    Scale shape: two partial-aggregate shuffles on narrow keys and
    zero pair materialization — the accounting costs O(groups), not
    O(pairs), which is the whole point of auditing candidate growth
    BEFORE running the join that pays for it."""
    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.floor(F.col("n_chars") / 200).alias("len_band"),
        F.conv(F.substring(F.md5(F.col("text")), 1, 1), 16, 10)
        .cast("long")
        .alias("band"),
        F.conv(F.substring(F.md5(F.col("text")), 2, 1), 16, 10)
        .cast("long")
        .alias("band2"),
    )
    sub = b.groupBy("len_band", "band", "band2").agg(
        F.count(F.lit(1)).alias("c")
    )
    CAP = 25
    return (
        sub.groupBy("len_band", "band")
        .agg(
            F.sum("c").cast("long").alias("grp_n"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("sub_pairs"),
        )
        .select(
            "len_band",
            "band",
            "grp_n",
            (F.col("grp_n") > CAP).cast("int").alias("capped"),
            (F.col("grp_n") * (F.col("grp_n") - 1) / 2)
            .cast("long")
            .alias("pairs_uncapped"),
            F.when(F.col("grp_n") > CAP, F.col("sub_pairs"))
            .otherwise(F.col("grp_n") * (F.col("grp_n") - 1) / 2)
            .cast("long")
            .alias("pairs_kept"),
        )
    )


def simhash_band_cap_stats(spark, sf_dir):
    """The SIMHASH band cap, fired under the gate (VERDICT-r10 #3):
    unlike :func:`dedup_band_cap_stats` — which models the split as
    arithmetic — this runs the REAL ``simhash_candidates`` operator
    with ``band_cap`` engaged, so a regression in the operator's split
    logic moves the hash-gated pair counts.

    The corpus is a deterministic md5-arithmetic signature frame with
    crawl-boilerplate skew built in: 32-bit signature = 10-bit cluster
    id (from md5(source) — one boilerplate cluster per source) in the
    high chunk, 8-bit per-doc noise in the low chunk.  Radius-1
    pigeonhole banding (2 bands x 16 bits) then makes every cluster a
    monster bucket in the high band (25/250/2500 docs at the three
    gate SFs — the cap of 12 fires at ALL of them), while the low band
    buckets only fire from sf0.01 up.  The capped operator PROVABLY
    loses exactly the hamming-1 pairs whose differing bit is inside
    the 4 salt bits (their only witness bucket splits them apart; the
    low band needs bit-equality), so the oracle's capped pair count
    differs from the uncapped count — the split semantics themselves
    are what the value hash pins.  tests/test_round11.py carries the
    matching recall contract (equal-signature pairs are NEVER lost:
    ``pmod(signature, split_factor)`` co-locates them by design).

    Emitted per cluster: doc count, how many fired (over-cap) buckets
    touch the cluster, and the candidate pairs the capped operator
    actually found.  Scale shape: the accounting is two narrow
    partial-agg shuffles; the pair join is the operator's own
    salt-bounded self-join — never all-pairs."""
    CAP, SPLIT = 12, 16
    d = _t(spark, sf_dir, "documents")
    cluster = (
        F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("long") % 1024
    )
    noise = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    sigs = d.select(
        "doc_id",
        cluster.alias("cluster"),
        (cluster * 65536 + noise).alias("sig"),
    ).localCheckpoint(eager=True)

    pairs = dedup.simhash_candidates(
        sigs.select("doc_id", "sig"),
        radius=1,
        sig_col="sig",
        bits=32,
        band_cap=CAP,
        split_factor=SPLIT,
    )
    pairs_per_cluster = (
        pairs.join(
            sigs.select(F.col("doc_id").alias("id_a"), "cluster"), "id_a"
        )
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("pairs_found"))
    )

    # bucket accounting mirrors the operator's banding arithmetic:
    # band 0 = low 16 bits (noise), band 1 = high 16 bits (cluster)
    banded = sigs.select(
        "doc_id",
        "cluster",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), (F.col("sig") % 65536).alias("chunk")),
                F.struct(
                    F.lit(1).alias("band"),
                    F.floor(F.col("sig") / 65536).cast("long").alias("chunk"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "cluster", "b.band", "b.chunk")
    fired = (
        banded.groupBy("band", "chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > CAP)
        .select("band", "chunk")
    )
    capped_per_cluster = (
        banded.join(fired, ["band", "chunk"], "left_semi")
        .select("cluster", (F.col("band") * 65536 + F.col("chunk")).alias("bk"))
        .groupBy("cluster")
        .agg(F.countDistinct("bk").alias("capped_buckets"))
    )
    base = sigs.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        base.join(capped_per_cluster, "cluster", "left")
        .join(pairs_per_cluster, "cluster", "left")
        .select(
            "cluster",
            "n_docs",
            F.coalesce(F.col("capped_buckets"), F.lit(0)).cast("long").alias(
                "capped_buckets"
            ),
            F.coalesce(F.col("pairs_found"), F.lit(0)).cast("long").alias(
                "pairs_found"
            ),
        )
    )


def streaming_sliding_10m(spark, sf_dir):
    """Overlapping sliding windows (10 min / 5 min hop) through the REAL
    Structured Streaming engine — each event lands in two window states
    concurrently, so this exercises multi-assignment state bookkeeping
    that tumbling windows never touch.  Hash-checked against the same
    DuckDB oracle as the batch `sliding_10m`."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, file_replay_source

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_q_")
    try:
        e.repartition(4).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = file_replay_source(spark, f"{tmp}/in", schema, max_files_per_trigger=2)
        agg = stream.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("win")
        ).agg(
            F.count(F.lit(1)).alias("window_count"),
            dsum(F.col("value")).alias("window_sum"),
        )
        out = drain_to_df(agg, f"stream_sliding_{uuid.uuid4().hex[:8]}")
        res = out.select(
            F.col("win.start").cast("long").alias("window_start"),
            "window_count", "window_sum",
        )
        res = res.cache()
        res.count()  # pin rows before the input files are removed
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def quality_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality score (the CCNet-style LM filter,
    one model class down from a real KenLM): score each doc by the mean log
    probability of its tokens under the corpus's own unigram
    distribution — boilerplate-ish docs made of frequent tokens score
    high, token-soup outliers score low.

    Scale shape: one token-count aggregation builds the vocabulary; its
    total rides the one-row broadcast-agg pattern (no driver action);
    the per-token log-probs are BROADCAST back onto the token stream, so
    scoring is map-side — the only corpus-wide shuffle is the final
    per-doc aggregation.  At 100 TB cap the broadcast vocabulary to the
    top-K tokens with an OOV floor probability; here the synthetic vocab
    is tiny so the full table broadcasts.

    Float discipline: log-probs rounded to 6 BEFORE the per-doc mean
    (transcendental), the mean accumulated in decimal (order-independent
    across partitionings and engines), one final round."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(text.normalize(F.col("text")), " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("total"))
    lp = vocab.join(F.broadcast(tot)).select(
        "tok",
        F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 6).alias("logp"),
    )
    return (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("logp").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("lm_score"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def _bigram_frame(d, *extra_cols):
    """(doc_id, *extra_cols, bg) exploded-bigram frame, built scale-safe:
    bigrams come from ``zip_with`` of two O(n) slices of the token
    array, so the split is evaluated a constant number of times per row.
    The earlier form — ``transform`` whose lambda did
    ``element_at(tokenize(text), i+2)`` — re-evaluated the full split
    per array ELEMENT after projection collapsing, the O(words²)
    codegen trap text.py documents for shingles; it benched 8.6 s vs
    0.9 s for this shape at sf0.1."""
    toks = text.tokenize(F.col("text"))
    t = d.select("doc_id", *extra_cols, toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    pair_len = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(F.col("__toks"), 1, pair_len),
        F.slice(F.col("__toks"), 2, pair_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return t.select("doc_id", *extra_cols, F.explode(bigrams).alias("bg"))


def quality_bigram_logprob(spark, sf_dir):
    """Bigram language-model quality score — one model class up from
    ``quality_unigram_logprob`` and the closest SQL-expressible stand-in
    for the CCNet/KenLM perplexity filter: score each doc by the mean
    conditional log probability ln(c(w1,w2) / c(w1,*)) of its bigrams
    under the corpus's own bigram counts.

    Scale shape: bigrams are built JVM-side inside the tokens array
    (:func:`_bigram_frame` — no positional self-join, no token-level
    explode until counting); the bigram-count model joins back by
    BROADCAST so scoring stays map-side.  The only corpus-wide shuffles
    are the two count aggregations.  At 100 TB cap the model to top-K
    bigrams with an OOV floor, same note as the unigram filter.

    Docs with fewer than 2 tokens have no bigrams and drop out (inner
    join) — identical semantics in the oracle."""
    d = _t(spark, sf_dir, "documents")
    bg = _bigram_frame(d)
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    first_tok = F.substring_index(F.col("bg"), " ", 1)
    ctx = counts.groupBy(first_tok.alias("w1")).agg(F.sum("cnt").alias("ctx_cnt"))
    model = counts.join(
        F.broadcast(ctx), first_tok == F.col("w1"), "inner"
    ).select(
        "bg",
        F.round(F.log(F.col("cnt").cast("double") / F.col("ctx_cnt")), 6).alias("logp"),
    )
    return (
        bg.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("logp").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("lm_score"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def mix_sources_token_budget(spark, sf_dir):
    """Data mixing: draw a deterministic, reproducible sample from EACH
    source until a per-source token budget is met — the core op for
    hitting a target corpus mixture (e.g. 30% web / 30% code / 40%
    books) when assembling a training set.

    Order within a source is md5(doc_id) (seedable shuffle, portable
    across engines and partitionings); a doc is kept while the budget is
    not yet exhausted BEFORE it, so the sample overshoots by at most one
    doc — the standard greedy cut.

    Scale shape: one shuffle on source + a per-source running sum.  A
    window per source serializes each source's scan at the margin; at
    100 TB pre-split each source into hash buckets and give each bucket
    budget/n_buckets (same greedy cut, restores parallelism) — here
    sources are few and small so the direct window is the right plan."""
    d = _t(spark, sf_dir, "documents")
    budget = 20_000
    h = F.md5(F.col("doc_id").cast("string"))
    w = (
        Window.partitionBy("source")
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tokens = text.token_count(F.col("text")).cast("long")
    return (
        d.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("cum_before") < budget)
        .select("doc_id", "source", "n_tokens", "cum_before")
    )


def top_bigrams_global(spark, sf_dir):
    """Corpus-wide heavy hitters: the exact top-20 bigrams by frequency.

    Scale shape: two-level aggregation (map-side partial counts, one
    shuffle on the bigram key) + TakeOrderedAndProject — no global sort
    materializes; ties break deterministically on the bigram string so
    the result set is engine-portable.  The approximate alternative at
    extreme cardinality is per-partition SpaceSaving + merge, but exact
    two-level agg holds far past 100 TB for n-gram-shaped key spaces."""
    d = _t(spark, sf_dir, "documents")
    return (
        _bigram_frame(d)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bg").asc())
        .limit(20)
    )


def cdc_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) compaction of a change log:
    turn each user's event stream into validity intervals
    [valid_from, valid_to) carrying the value that held over the
    interval; the open (current) interval has NULL valid_to.  This is
    the standard CDC -> warehouse-dimension materialization.

    Scale shape: one shuffle on user_id + an in-partition lead()
    window; no self-join.  Keyed windows parallelize across users, the
    same shape running_by uses."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("value").alias("held_value"),
    )


def streaming_funnel_conversions(spark, sf_dir, n_slices=4):
    """Conversion-funnel detection through the REAL streaming engine
    with keyed arbitrary state (streaming/funnel.py): each purchase
    pairs with the user's most recent preceding view when the gap is
    <= 30 minutes.  One 16-byte state cell per user crosses micro-batch
    boundaries — a pattern (not a fold) no windowed agg expresses.
    Hash-checked against a batch as-of-join oracle.

    The sliced-replay writer below is HARNESS-ONLY: it exists to feed
    the oracle gate ``n_slices`` in-event-order triggers from a bounded
    table.  A production funnel ingests an already-partitioned log
    (Kafka/file offsets), so the single-file slice
    writes and the explicit mtime stamping are test scaffolding, not
    the engine's scale path.  Slice boundaries come from a one-row
    percentile agg (any time-contiguous cut preserves order), NOT a
    global ntile sort — an Exchange SinglePartition there would be the
    serial funnel this engine avoids everywhere else (7.8 s -> 6.2 s at
    sf0.1; the remainder is the n-trigger streaming drain itself,
    inherent to exercising cross-batch state).

    FileStreamSource orders files by modification time, so same-ms
    appends could tie and reorder triggers, silently mis-pairing
    cross-batch conversions; each slice's files get an explicit,
    strictly increasing mtime and the set is asserted distinct before
    the stream starts."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.funnel import funnel_conversions_stream
    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices

    e = _t(spark, sf_dir, "events")
    base = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
            "event_type",
        )
    )
    tmp = tempfile.mkdtemp(prefix="tubes_funnel_")
    try:
        qs = [i / n_slices for i in range(1, n_slices)]
        bounds = base.agg(F.percentile_approx("ts_us", qs).alias("b")).first()["b"]
        lo = F.col("ts_us")
        edges = [None, *bounds, None]
        conds = []
        for i in range(n_slices):
            cond = F.lit(True)
            if edges[i] is not None:
                cond = cond & (lo >= edges[i])
            if edges[i + 1] is not None:
                cond = cond & (lo < edges[i + 1])
            conds.append(cond)
        write_ordered_slices(base, conds, f"{tmp}/in")
        schema = "user_id long, ts_us long, event_id long, event_type string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        conv = funnel_conversions_stream(
            stream.groupBy("user_id"), window_us=30 * 60 * 1_000_000
        )
        out = drain_to_df(
            conv, f"stream_funnel_{uuid.uuid4().hex[:8]}", output_mode="append",
            shuffle_partitions=16,
        )
        res = out.cache()
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_merge_interleaved_events(spark, sf_dir):
    """The reference's round-robin merge interleave (Tubes/Source.hs:
    180-193) through the REAL streaming engine, under the ORACLE gate —
    the INCREMENTAL successor to the batch `merge_interleave` and the
    drained `streaming_merge_union`: views and purchases replay as two
    independent file streams in three time-sliced triggers each, and
    streaming/run.py::merge_streams_interleaved assigns every element
    its per-side sequence number ON THE FLY (per-trigger event-time
    rank + O(1) running offsets).  The emitted (rn, side) key IS the
    reference order — element i of side A precedes element i of side B
    precedes element i+1 — so DuckDB verifies the whole interleave
    positionally with two plain row_number windows, and no global sort
    ever runs inside the stream.

    Slice boundaries are integer-micros arithmetic ((ts-min)*3 div
    span), never percentile_approx — an engine-specific estimate could
    place a row in a different trigger (delivery order is the operator's
    input contract, same as the funnel's).

    Scale shape: per trigger, one 2-partition rank window + one append;
    cross-batch state is two counters."""
    import shutil
    import tempfile

    from tubes_spark.streaming.run import (
        merge_streams_interleaved,
        write_ordered_slices,
    )

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    base = e.select("event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type")
    tmp = tempfile.mkdtemp(prefix="tubes_mi_")
    try:
        schema = "event_id long, ts_us long"
        streams = []
        for s, et in ((0, "view"), (1, "purchase")):
            side_df = base.filter(F.col("event_type") == et).select(
                "event_id", "ts_us"
            )
            mn, mx = side_df.agg(F.min("ts_us"), F.max("ts_us")).first()
            if mn is None:
                # empty side at a tiny scale factor: one empty slice so
                # the file stream still has a directory to read
                conds = [F.lit(True)]
            else:
                span = max(int(mx) - int(mn) + 1, 1)
                conds = [
                    F.floor((F.col("ts_us") - F.lit(int(mn))) * 3 / F.lit(span)) == i
                    for i in range(3)
                ]
            write_ordered_slices(side_df, conds, f"{tmp}/in{s}")
            streams.append(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{tmp}/in{s}")
            )
        out = merge_streams_interleaved(
            streams[0],
            streams[1],
            ["ts_us", "event_id"],
            f"{tmp}/out",
            f"{tmp}/ck",
            keep_keys=True,
        )
        res = out.select("event_id", "side", "rn").localCheckpoint(eager=True)
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_ttl_sessions(spark, sf_dir):
    """Keyed-state EVICTION under the value-hash oracle gate — the
    round-7 bounded-state contract (VERDICT-r6 #1) made verifiable:
    events for user_id % 5 == 0 replay as four time-quartile triggers
    into ``ttl_session_fold`` (applyInPandasWithState +
    EventTimeTimeout).  Each user's state holds ONE open session; a
    30,000 s event-time gap splits sessions in-batch, and the watermark
    evicts a session once it trails by the TTL — flushing its final
    (sum, count, bounds) row and removing the key from the state store.

    DuckDB reproduces the whole protocol arithmetically: islands by
    gap > TTL, the engine's watermark ``max_ms - delay_ms``, and the
    eviction rule "final island emitted iff its last event + TTL is
    strictly behind the final watermark" — so state eviction is
    hash-checked row by row, not just trusted (same discipline as
    ``streaming_late_data``).

    Float discipline: the folded value is floor(value * 1e6) — integer
    micro-units, exact in sequential float64 addition and in DuckDB's
    SUM alike.

    Scale shape: state is O(keys active within the TTL horizon), NOT
    O(keys ever seen) — the property that makes the operator safe on a
    continuous 100 TB stream; each trigger pays one user_id shuffle."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices
    from tubes_spark.streaming.state import ttl_session_fold

    TTL_US = 30_000 * 1_000_000
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    base = e.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 1_000_000).alias("vu"),
    )
    tmp = tempfile.mkdtemp(prefix="tubes_ttl_")
    # state-partition sizing: per-key PYTHON state like the fold drain,
    # but only ~300 session keys — r13 re-sweep at sf0.1 (checkpoint
    # checksums off): 4.95 s @ 8, 4.60 s @ 16, 5.05 s @ 32.  Few groups
    # per partition means task overhead wins past 16, so clamp the
    # core-derived count there.  ADVICE r13: clamp from BELOW too — the
    # 8/16/32 sweep never measured small hosts, and the fold sweep
    # showed 4 partitions markedly slower (17.9 s @ 4 vs 12.5 s @ 8),
    # so a local[4] driver session stays at the measured floor of 8.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    ttl_parts = min(16, max(8, spark.sparkContext.defaultParallelism))
    spark.conf.set("spark.sql.shuffle.partitions", str(ttl_parts))
    try:
        mn, mx = base.agg(F.min("ts_us"), F.max("ts_us")).first()
        if mn is None:
            conds = [F.lit(True)]
        else:
            span = max(int(mx) - int(mn) + 1, 1)
            conds = [
                F.floor((F.col("ts_us") - F.lit(int(mn))) * 4 / F.lit(span)) == i
                for i in range(4)
            ]
        write_ordered_slices(base, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("user_id long, ts_us long, vu long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", "10 seconds")
        )
        sess = ttl_session_fold(
            stream, "user_id", "ts_us", "vu",
            ttl_us=TTL_US, event_time_col="ts", delay_ms=10_000,
        )
        out = drain_to_df(
            sess, f"stream_ttl_{uuid.uuid4().hex[:8]}", output_mode="append",
            shuffle_partitions=ttl_parts,
        )
        res = out.select(
            F.col("key").cast("long").alias("user_id"),
            F.col("acc").cast("long").alias("acc_units"),
            "n",
            "start_us",
            "last_us",
        ).localCheckpoint(eager=True)
        return res
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_fold_evicted(spark, sf_dir):
    """RAW ``running_fold`` eviction under the value-hash oracle gate —
    closing the round-7 gap where the plain keyed fold's evicted-flush
    output was pinned only by pytest (VERDICT-r7 #4): the same
    protocol-arithmetic trick as ``streaming_ttl_sessions``, applied to
    the fold itself rather than the sessionizer.

    Events for user_id % 5 == 1 replay as four time-quartile triggers
    into ``running_fold(op='sum', evict_gap_ms=2 days)``.  The fold key
    is DAY-scoped (user_id*100000 + epoch_day) so keys naturally go
    silent and the watermark genuinely evicts them mid-drain — and
    because one epoch-day can straddle at most two ADJACENT slices, an
    evicted key never receives later events, so no evict-then-revive
    segment logic is needed and the emitted multiset is exactly:

    * one update row per (key, slice-with-events): the CUMULATIVE
      (acc, n) after that trigger (update mode), plus
    * one flush row per evicted key — a duplicate of its final
      cumulative row — emitted iff the final watermark
      (floor(max_us/1000) - delay_ms, the engine's own arithmetic)
      STRICTLY exceeds last_event_ms + gap_ms.  Mid-drain evictions
      emit the same row the final no-data batch would, so the single
      final-watermark rule covers both (the watermark only grows).

    DuckDB reproduces all of it: quartile slices by integer-micros
    arithmetic, per-(key, slice) cumulative sums, and the eviction
    rule — so the flush path of the MOST-USED stateful operator is
    hash-checked row by row, not just trusted.

    Float discipline: folded value is floor(value*1e6) — integer
    micro-units, exact in float64 batch sums and DuckDB SUM alike.

    Scale shape: state is O(keys inside the eviction horizon); each
    trigger pays one fold-key shuffle over 8 sized state partitions."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices
    from tubes_spark.streaming.state import running_fold

    GAP_MS = 172_800_000  # 2 days
    DAY_US = 86_400_000_000
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 1)
    base = e.select(
        # integer DIV, not floor(double/): epoch-day must be exact on
        # both engines (DuckDB mirrors with BIGINT //)
        (F.col("user_id") * 100000
         + F.expr(f"unix_micros(ts) DIV {DAY_US}")).alias("k"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 1_000_000).cast("double").alias("vu"),
    )
    tmp = tempfile.mkdtemp(prefix="tubes_fold_evict_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # one partition per CORE, not the JVM-state default 8: the drain is
    # per-key PYTHON state (applyInPandasWithState) over ~9k fold keys,
    # where each partition is one Python worker walking its groups
    # serially — so with per-partition commit cost fixed (the r13
    # checkpoint-checksum fix), parallelism should track the core
    # count.  Re-measured sweep at sf0.1/local[32], checksums off:
    # 8.66 s @ 8, 7.02 s @ 16, 6.92 s @ 24, 6.73 s @ 32.  (The earlier
    # pin at 16 was an artifact of the leaked checksum-writer threads
    # charging each extra partition ~2 threads per trigger.)
    py_parts = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(py_parts))
    try:
        mn, mx = base.agg(F.min("ts_us"), F.max("ts_us")).first()
        if mn is None:
            conds = [F.lit(True)]
        else:
            span = max(int(mx) - int(mn) + 1, 1)
            conds = [
                F.floor((F.col("ts_us") - F.lit(int(mn))) * 4 / F.lit(span)) == i
                for i in range(4)
            ]
        write_ordered_slices(base, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("k long, ts_us long, vu double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", "10 seconds")
        )
        folded = running_fold(
            stream, ["k"], "vu", op="sum",
            event_time_col="ts", evict_gap_ms=GAP_MS,
        )
        out = drain_to_df(
            folded, f"stream_fold_ev_{uuid.uuid4().hex[:8]}", output_mode="update",
            shuffle_partitions=py_parts,
        )
        res = out.select(
            F.col("key").cast("long").alias("fold_key"),
            F.col("acc").cast("long").alias("acc_units"),
            "n",
        ).localCheckpoint(eager=True)
        return res
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_late_data(spark, sf_dir):
    """Watermark late-data semantics through the REAL engine, under the
    ORACLE gate: events replay in four time-quartile triggers, except
    every 20th event arrives one trigger LATE.  A 1753-second watermark
    (deliberately not window-aligned) then decides each late row's
    fate — rows whose hour-window end is at or below the watermark in
    force when they arrive are dropped — and append mode emits only
    windows finalized by the last watermark.  DuckDB reproduces the
    full protocol arithmetically: per-trigger max event time, the
    ms-resolution watermark ``floor(max_us/1000) - delay_ms``, the
    row-drop rule, and the final-emission cutoff — so Spark's state
    eviction is hash-checked row by row, not just trusted.

    Quartile boundaries are integer micros arithmetic ((ts-min)*4 div
    span) — NOT percentile_approx, whose engine-specific estimate could
    put a row in different triggers on the two sides.

    Scale shape: the windowed agg is one (window) shuffle with
    watermark-bounded state; the replay writer is harness-only
    (streaming/run.py::write_ordered_slices)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.operators.windows import with_watermark
    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices

    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    sliced = (
        e.crossJoin(F.broadcast(b))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn(
            "slice",
            F.least(
                F.expr("(ts_us - mn) * 4 DIV (mx - mn + 1)")
                + F.when(F.col("event_id") % 20 == 0, F.lit(1)).otherwise(F.lit(0)),
                F.lit(3),
            ),
        )
        .select("event_id", "ts", "slice")
    )
    tmp = tempfile.mkdtemp(prefix="tubes_late_")
    try:
        write_ordered_slices(
            sliced, [F.col("slice") == i for i in range(4)], f"{tmp}/in"
        )
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, slice int")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        agg = (
            with_watermark(stream, "ts", "1753 seconds")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("window_start"), "n_events")
        )
        out = drain_to_df(
            agg, f"stream_late_{uuid.uuid4().hex[:8]}", output_mode="append"
        )
        res = out.cache()
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def gapfill_hourly_counts(spark, sf_dir):
    """Time-series gap filling (the hypertable ``time_bucket_gapfill``
    shape): the hourly rollup emits NO row for an empty hour, but
    downstream chart/model consumers need a dense spectrum — generate
    every hour between the corpus min and max and left-join the rollup
    onto it (missing hours -> count 0, sum NULL).

    Scale shape: the rollup is the usual one-shuffle partial agg; the
    bounds are a one-row agg; the spectrum is an exploded ``sequence``
    over the bounds (rows = hours in range — thousands per YEAR, tiny
    forever) that BROADCASTs onto the rollup.  Nothing scales with
    event volume except the first agg."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spectrum = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    return (
        F.broadcast(spectrum)
        .join(hourly, "h", "left")
        .select(
            F.col("h").cast("long").alias("hour_start"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            "sum_value",
        )
    )


def unpivot_doc_metrics(spark, sf_dir):
    """Wide-to-long reshaping (``unpivot``/melt — the inverse of
    ``pivot_event_counts``): per-doc metrics computed as columns, then
    melted to (doc_id, metric, value) rows.  The standard shape for
    feeding heterogeneous per-doc statistics to a single metrics sink.

    Scale shape: pure per-row projection — unpivot is a local explode,
    no shuffle anywhere."""
    d = _t(spark, sf_dir, "documents")
    wide = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("chars"),
        text.token_count(F.col("text")).cast("long").alias("tokens"),
        F.length("text").cast("long").alias("raw_len"),
    )
    return wide.unpivot("doc_id", ["chars", "tokens", "raw_len"], "metric", "value")


def approx_top_tokens(spark, sf_dir):
    """SpaceSaving approximate heavy hitters over the token stream
    (operators/sketch.py) — the bounded-memory alternative to the exact
    two-level agg when the key domain is unbounded.  At this corpus's
    vocabulary (~31 tokens << capacity 4096) every task tracks every
    key, the error bound is 0, and the result equals the exact top-10 —
    which is precisely what the oracle checks; the eviction path is
    exercised separately with a capacity-4 unit test."""
    from tubes_spark.operators.sketch import space_saving_topk

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokenize(F.col("text"))).alias("tok"))
    return space_saving_topk(toks, "tok", k=10, capacity=4096)


def approx_top_tokens_eviction_bound(spark, sf_dir):
    """SpaceSaving under REAL eviction, with its error contract checked
    row-wise under the oracle gate — the companion to
    ``approx_top_tokens`` above, which deliberately runs in the
    no-eviction regime where the sketch is exact (sketch.py's exactness
    condition: every task sees at most ``capacity`` distinct keys).

    Here the key stream is skewed by construction: 3 hot keys carry
    ~20% of the stream each while ~997 cold keys split the rest, and
    ``capacity=64 << 1000`` forces constant eviction in every task.
    SpaceSaving guarantees (Metwally et al., ICDT 2005): any key with
    true count > N/capacity is present in the merged summary, and for
    keys tracked in every task, ``true <= est <= true + max_overcount``.
    The query emits exactly those guaranteed keys with their EXACT
    counts plus the two bound checks as boolean columns — all
    deterministic, so DuckDB reproduces them from scratch while the
    est values themselves (arrival-order dependent) stay internal.  A
    bound violation surfaces as a FALSE in a hashed column, i.e. a
    driver-visible wrong answer.

    Scale shape: the sketch is the capacity-bounded Arrow pass + one
    narrow merge shuffle; the exact side is one count shuffle (the
    fixture's key domain is small — at true open-vocabulary scale the
    exact join is replaced by a sampled audit, same bound logic)."""
    from tubes_spark.operators.sketch import space_saving_topk

    e = _t(spark, sf_dir, "events")
    key = F.when(
        F.col("event_id") % 10 < 6,
        F.concat(F.lit("hot_"), (F.col("event_id") % 3).cast("string")),
    ).otherwise(
        F.concat(F.lit("cold_"), (F.col("event_id") % 997).cast("string"))
    )
    keys = e.select(key.alias("tok"))
    capacity = 64
    sk = space_saving_topk(keys, "tok", k=10, capacity=capacity)
    exact = keys.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    tot = exact.agg(F.sum("true_count").alias("n_total"))
    return (
        sk.join(exact, "tok")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("true_count") > F.col("n_total") / F.lit(float(capacity)))
        .select(
            "tok",
            "true_count",
            (F.col("est_count") >= F.col("true_count")).alias("lower_ok"),
            (F.col("est_count") <= F.col("true_count") + F.col("max_overcount")).alias("upper_ok"),
        )
    )


def streaming_topk_spacesaving(spark, sf_dir):
    """STREAMING heavy hitters through the real engine, under the
    ORACLE gate: the skewed hot/cold key stream (3 hot keys ~20% each,
    ~997 cold keys) replays as three triggers into
    ``space_saving_stream`` — per-bucket capacity-64 SpaceSaving
    summaries living in the keyed state store, evicting constantly,
    with state bounded BY CONSTRUCTION (4 buckets x 64 counters) no
    matter how many distinct tokens the stream carries.  The md5-based
    bucket split is cross-engine, so DuckDB reproduces the guarantee
    protocol exactly: any key whose true count exceeds its bucket's
    n_seen/capacity MUST be in that bucket's final summary, with
    ``true <= est <= true + err``.  The query emits precisely those
    guaranteed keys with exact counts and the two bound checks as
    hashed booleans — a missed guaranteed key (row-count mismatch) or
    a bound violation (FALSE) is a driver-visible wrong answer, while
    the arrival-order-dependent est values stay internal.

    The bounded-state contrast: ``running_fold`` needed watermark
    EVICTION this round; here the sketch IS the eviction policy.

    Scale shape: per trigger one bucket-hash shuffle + O(capacity)
    state rows per bucket; the exact side is the verification-only
    luxury (at open-vocabulary scale it becomes a sampled audit)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.operators.sketch import space_saving_stream
    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices

    CAPACITY, BUCKETS = 64, 4
    e = _t(spark, sf_dir, "events")
    key = F.when(
        F.col("event_id") % 10 < 6,
        F.concat(F.lit("hot_"), (F.col("event_id") % 3).cast("string")),
    ).otherwise(
        F.concat(F.lit("cold_"), (F.col("event_id") % 997).cast("string"))
    )
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long") % BUCKETS
    ).cast("int")
    base = e.select(key.alias("tok"), bucket.alias("bucket"), "event_id")
    tmp = tempfile.mkdtemp(prefix="tubes_ss_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        mn, mx = base.agg(F.min("event_id"), F.max("event_id")).first()
        span = max(int(mx) - int(mn) + 1, 1)
        conds = [
            F.floor((F.col("event_id") - F.lit(int(mn))) * 3 / F.lit(span)) == i
            for i in range(3)
        ]
        # event_id stays in the written slice files purely so the slice
        # predicates resolve in the one-pass writer; the readStream
        # schema below declares only (tok, bucket), so the parquet
        # reader prunes it and the stream is unchanged
        write_ordered_slices(base, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("tok string, bucket int")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        sk = space_saving_stream(stream, "tok", "bucket", capacity=CAPACITY)
        out = drain_to_df(
            sk, f"stream_ss_{uuid.uuid4().hex[:8]}", output_mode="update"
        )
        # final summary per bucket = the rows from its last re-emission
        w = Window.partitionBy("bucket")
        final = out.withColumn("__mx__", F.max("n_seen").over(w)).filter(
            F.col("n_seen") == F.col("__mx__")
        )
        exact = base.groupBy("bucket", "tok").agg(
            F.count(F.lit(1)).alias("true_count")
        )
        tot = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
        res = (
            final.join(exact, ["bucket", "tok"])
            .join(F.broadcast(tot), "bucket")
            .filter(F.col("true_count") > F.col("n_b") / F.lit(float(CAPACITY)))
            .select(
                "tok",
                F.col("bucket").cast("int").alias("bucket"),
                "true_count",
                (F.col("est") >= F.col("true_count")).alias("lower_ok"),
                (F.col("est") <= F.col("true_count") + F.col("err")).alias("upper_ok"),
            )
            .localCheckpoint(eager=True)
        )
        return res
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def source_kl_divergence(spark, sf_dir):
    """Distribution-drift monitor: KL(source || corpus) over the token
    distribution, per source — the standard check that one ingest
    source hasn't drifted away from the corpus mixture (run per
    crawl/day at scale; alert on a jump).

    Laplace-smoothed (+1 / +V with V = corpus vocabulary) so
    source-absent tokens contribute finite mass.  Scale shape: two
    narrow count shuffles (per-source and global token counts), the
    global model BROADCAST onto the per-source terms, one final
    per-source agg.  Model size = vocabulary — cap to top-K tokens at
    open-vocabulary scale, same note as the LM-quality filters.  Float
    discipline: each term is rounded to 6dp and summed as
    decimal(27,6)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(text.tokenize(F.col("text"))).alias("tok"))
    src_cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("s_cnt"))
    glob_cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("g_cnt"))
    vocab = glob_cnt.agg(
        F.count(F.lit(1)).alias("v"), F.sum("g_cnt").alias("g_tot")
    )
    src_tot = src_cnt.groupBy("source").agg(F.sum("s_cnt").alias("s_tot"))
    term = (
        src_cnt.join(F.broadcast(glob_cnt), "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            F.round(
                ((F.col("s_cnt") + 1).cast("double") / (F.col("s_tot") + F.col("v")))
                * F.log(
                    ((F.col("s_cnt") + 1).cast("double") / (F.col("s_tot") + F.col("v")))
                    / ((F.col("g_cnt") + 1).cast("double") / (F.col("g_tot") + F.col("v")))
                ),
                6,
            ).alias("kl_term"),
        )
    )
    return term.groupBy("source").agg(
        F.sum(F.col("kl_term").cast("decimal(27,6)")).cast("double").alias("kl_to_corpus"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def dsir_importance_weights(spark, sf_dir):
    """DSIR-style hashed n-gram importance weighting (Xie et al. 2023,
    arXiv:2302.03169): score every document by how much its hashed
    bigram feature distribution resembles a TARGET slice (here
    lang='en') versus the RAW corpus — the standard recipe for
    target-domain selection/reweighting of pretraining data.

    Bigrams hash into 256 buckets via two md5 hex nibbles (the same
    engine-portable trick as shard_assign_stats); bucket counts are
    Laplace-smoothed (+1, denominators +256).  The per-doc score is the
    SUM of bucket log-ratios — the paper's log importance weight;
    n_feats rides along so a consumer can length-normalize.  (The sum
    stays decimal-exact end-to-end; a rounded mean was observed 1-ulp
    unstable between engines at a half-way rounding boundary.)

    Scale shape: the target and raw model tables are <=256 rows each —
    joined to each other and BROADCAST onto the per-doc feature stream,
    so scoring is map-side.  Corpus-wide shuffles: the two bucket-count
    aggs + the final per-doc agg.  Nothing scales with corpus size but
    the scans.  Float discipline: each log-ratio is rounded to 6dp then
    summed as decimal(27,6), so the mean is partition-order-free."""
    d = _t(spark, sf_dir, "documents")
    nib = "instr('0123456789abcdef', substring(md5(bg), {}, 1)) - 1"
    fb = _bigram_frame(d, "lang").select(
        "doc_id", "lang",
        (F.expr(nib.format(1)) * 16 + F.expr(nib.format(2))).cast("int").alias("b"),
    )
    raw = fb.groupBy("b").agg(F.count(F.lit(1)).alias("raw_cnt"))
    tgt = fb.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("tgt_cnt")
    )
    raw_tot = raw.agg(F.sum("raw_cnt").alias("raw_tot"))
    tgt_tot = tgt.agg(F.sum("tgt_cnt").alias("tgt_tot"))
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce(F.col("tgt_cnt"), F.lit(0)) + 1).cast("double")
                     / (F.col("tgt_tot") + 256))
                    / ((F.col("raw_cnt") + 1).cast("double") / (F.col("raw_tot") + 256))
                ),
                6,
            ).alias("logratio"),
        )
    )
    return (
        fb.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("logratio").cast("decimal(27,6)"))
            .cast("double")
            .alias("dsir_logweight"),
            F.count(F.lit(1)).alias("n_feats"),
        )
    )


def sample_weighted_per_source(spark, sf_dir):
    """Weighted sampling without replacement, per source: the
    Efraimidis–Spirakis A-ES scheme — key = u^(1/w) with u uniform in
    (0,1) and w the item weight (n_chars here); the top-k keys per
    group ARE a weighted sample without replacement.  This is how you
    draw a quality- or length-weighted eval slice from each source in
    one pass.

    u derives from the first 8 md5 hex chars of doc_id (seedable,
    engine-portable, reproducible across partitionings — the property
    ``.sample()`` lacks); weights are clamped to >=1 so 1/w is finite.

    Scale shape: pure per-row projection + one shuffle on source + a
    per-group top-k window — identical to sample_per_lang_hash; k=20
    keys per group is trivial state at any scale."""
    d = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + F.lit(1.0)
    ) / F.lit(4294967297.0)
    w_col = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.round(F.pow(u, F.lit(1.0) / w_col), 12)
    ranked = Window.partitionBy("source").orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", "n_chars", key.alias("es_key"))
        .withColumn("draw_rank", F.row_number().over(ranked).cast("int"))
        .filter(F.col("draw_rank") <= 20)
        .select("doc_id", "source", "n_chars", "draw_rank")
    )


def dedup_incremental_new_docs(spark, sf_dir):
    """Incremental (cross-batch) exact dedup: an arriving batch keeps
    only docs whose canonical text was never seen in the already-ingested
    corpus — the steady-state form of dedup_exact_docs once a corpus is
    live (each day's crawl checks against the seen-set, not itself).
    Seen = source 'src0'; arriving = everything else.

    Scale shape: both sides reduce to md5(canonical text) BEFORE the
    join, so the anti-join shuffles 16-byte digests, never text; the
    seen side is pre-distinct'd (one narrow shuffle) and AQE plants a
    runtime bloom filter on the big probe side.  At 100 TB the seen-set
    is a maintained parquet table of digests keyed for bucket-join —
    same plan, zero text movement."""
    d = _t(spark, sf_dir, "documents")
    canon_hash = F.md5(text.normalize(F.col("text")))
    seen = (
        d.filter(F.col("source") == "src0")
        .select(canon_hash.alias("seen_hash"))
        .distinct()
    )
    arriving = d.filter(F.col("source") != "src0").withColumn("h", canon_hash)
    return (
        arriving.join(seen, arriving["h"] == seen["seen_hash"], "left_anti")
        .select("doc_id", "source", "n_chars")
    )


def dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dedup against a PERSISTED banded-signature
    index (VERDICT-r9 #6 — the missing fuzzy twin of
    dedup_incremental_new_docs): the already-ingested corpus (source
    'src0') has its arithmetic-MinHash band rows written as a committed
    atomic-group epoch; the arriving batch (every other source)
    computes ONLY its own signatures and semi-joins the stored (band,
    key) set — an arriving doc that shares any band bucket with a seen
    doc is a near-dup, the rest survive.  The index then absorbs the
    arriving batch's rows as the next committed epoch (the daily
    maintenance step) — each day's run costs |batch| signature
    computations, never a corpus recompute.

    Scale shape: the seen side of the check is a scan of the
    (id, band, key) index parquet — old document TEXT is never read
    (tests/test_round10.py pins the plan) — and the decision join is
    one narrow shuffle on (band, key); at 100 TB bucket the index on
    the join key so only the batch side moves.  The md5-arithmetic
    family keeps every stored key and every survivor row under the
    full value-hash oracle gate."""
    import shutil
    import tempfile

    d = _t(spark, sf_dir, "documents")
    seen = d.filter(F.col("source") == "src0")
    arriving = d.filter(F.col("source") != "src0")
    tmp = tempfile.mkdtemp(prefix="tubes_mh_idx_")
    try:
        dedup.write_minhash_index(seen, tmp, epoch=0)
        out = (
            dedup.incremental_minhash_new(
                arriving, spark, tmp, update_index=True
            )
            .select("doc_id", "source", "n_chars")
            # pin rows before the index dir is removed
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def dedup_minhash_arith_survivors(spark, sf_dir):
    """MinHash-LSH dedup under the FULL value-hash oracle gate: the
    md5-derived arithmetic hash family (operators/dedup.py
    arith_hash_family) is bit-reproducible in DuckDB, so — unlike the
    xxhash64 production path, which gets rows-only checks — every band
    key, bucket min and survivor row here is hash-checked end to end.
    Same plan shape as the production path: one narrow shuffle on
    (band, key), per-bucket min, anti-join of a tiny dropped set."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_minhash_arith(d).select("doc_id", "source", "n_chars")


def dedup_minhash_arith_cc_survivors(spark, sf_dir):
    """The FULL dedup pipeline — bands -> candidate edges -> connected
    components -> one survivor per transitive cluster — under the
    value-hash oracle gate (VERDICT-r6 #4: the CC survivor stage was
    the last dedup stage outside it).  Composition of two
    already-gated machines: the md5-arithmetic MinHash band family
    (bit-reproducible in DuckDB) and the iterative smallest-label
    propagation, which the oracle replays as a recursive-CTE
    transitive closure.

    Candidate edges are the STAR form (each doc -> its bucket's min
    doc), not per-bucket all-pairs: connectivity is identical (every
    bucket is a clique through its min) and edge count stays linear in
    band rows — the shape that survives a skewed bucket at 100 TB.
    The xxhash64 production path (dedup_minhash_cc_survivors) keeps
    its rows-only check; this is its verification twin."""
    d = _t(spark, sf_dir, "documents")
    banded = dedup.arith_minhash_bands(d)
    w = Window.partitionBy("band", "key")
    star = (
        banded.withColumn("__mn__", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("__mn__"))
        .select(F.col("__mn__").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    comp = dedup.connected_components(star)
    dropped = comp.filter(F.col("comp") < F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    return d.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


def connected_components_jaccard(spark, sf_dir):
    """Connected components of the exact-Jaccard>=0.5 near-dup graph,
    under the FULL oracle gate: the edge set is the already-gated
    jaccard_near_dup_pairs result, and the iterative smallest-label
    propagation (operators/dedup.py connected_components — the engine
    behind the 'components' survivor policy) is checked row-for-row
    against a DuckDB recursive-CTE transitive closure.  This gives the
    union-find machinery a value-hash driver pass on REAL corpus data,
    complementing the fixture-graph unit tests.

    Scale shape: label propagation is one narrow self-join per round on
    the (tiny) verified-pair set, lineage-truncated each round; the
    oracle's O(closure) CTE is the verification-side luxury, not the
    production plan — and because BOTH its edge join (n^2 banded with
    per-pair list intersections) and the closure are quadratic in
    DuckDB, the verification slice is capped at doc_id < 1250 so the
    sf0.1 margin sweep stays tractable.  The Spark operator itself runs
    uncapped in the dedup_minhash 'components' production path."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1250)
    sh = d.select(
        "doc_id",
        F.array_distinct(text.word_shingles(F.col("text"), 3)).alias("sh"),
    ).withColumn("n", F.size("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb"))
    cand = a.join(
        b,
        (F.col("id_a") < F.col("id_b")) & (F.col("na") <= 2 * F.col("nb")) & (F.col("nb") <= 2 * F.col("na")),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    pairs = cand.select("id_a", "id_b", jac.alias("j")).filter(F.col("j") >= 0.5).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), "comp")


def streaming_dedup_watermark(spark, sf_dir):
    """Cross-batch streaming deduplication through the REAL engine
    (``dropDuplicatesWithinWatermark``), under the ORACLE gate: events
    replay in four time-quartile triggers and every 10th event is
    re-injected VERBATIM one trigger later.  The engine must remember
    each key across batches (365-day watermark => state never evicted
    within the replay) and drop every re-delivery, so the surviving
    stream equals the original table exactly — any premature state
    eviction or missed duplicate surfaces as a row/hash mismatch.
    The cross-batch twin of batch dedup_exact_docs, exercising the
    at-least-once-delivery dedup every production ingest needs.

    Scale shape: per-key state is a single timestamp cell keyed by
    event_id; one keyed exchange per micro-batch.  The sliced-replay
    writer is harness-only (write_ordered_slices)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices

    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    base = (
        e.crossJoin(F.broadcast(b))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("slice", F.expr("(ts_us - mn) * 4 DIV (mx - mn + 1)"))
        .select("event_id", "ts", "slice")
    )
    dups = (
        base.filter(F.col("event_id") % 10 == 0)
        .withColumn("slice", F.least(F.col("slice") + 1, F.lit(3)))
    )
    sliced = base.unionByName(dups)
    tmp = tempfile.mkdtemp(prefix="tubes_dedup_wm_")
    try:
        write_ordered_slices(
            sliced, [F.col("slice") == i for i in range(4)], f"{tmp}/in"
        )
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, slice int")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        deduped = (
            stream.withWatermark("ts", "365 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts")
        )
        out = drain_to_df(
            deduped, f"stream_dedup_{uuid.uuid4().hex[:8]}", output_mode="append"
        )
        res = out.cache()
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def array_hof_doc_stats(spark, sf_dir):
    """Higher-order array-function battery over the token stream —
    transform / filter / aggregate / exists in ONE projection, the
    Spark-idiomatic replacement for per-row Python loops (reference
    `each`/`map` composed pipelines do this with closures; here it is
    a single whole-stage-codegen'd stage, no shuffle at all).

    Float discipline: lengths are integers throughout — no rounding
    concerns.  aggregate() seeds with a long zero so the sum type is
    stable across engines."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokenize(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 6)).cast("long").alias("n_long_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("total_token_chars"),
        F.array_max(F.transform(toks, lambda t: F.length(t))).cast("long").alias("max_token_len"),
        F.exists(toks, lambda t: t.rlike("[0-9]")).alias("has_numeric_token"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


def datetime_funcs_events(spark, sf_dir):
    """Calendar-function battery over the event stream: ISO week
    truncation, weekday, month arithmetic, quarter — the slice-and-dice
    axes every time-partitioned 100 TB table is bucketed by.  Pure
    per-row projections: zero shuffles, scan-dominated.

    Cross-engine notes baked into the expressions: Spark ``dayofweek``
    is 1=Sunday..7=Saturday (DuckDB's is 0-based — oracle adds 1);
    ``date_trunc('week', ...)`` is ISO-Monday in both engines."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.date_trunc("week", F.col("ts")).alias("week_start"),
        F.dayofweek("ts").alias("dow"),
        F.quarter("ts").alias("qtr"),
        F.last_day("ts").cast("timestamp").alias("month_end"),
        F.add_months(F.to_date("ts"), 2).cast("timestamp").alias("plus2m"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_2024"
        ),
    )


def percentile_approx_bound_check(spark, sf_dir):
    """``percentile_approx`` (KLL-ish quantile sketch) with its RANK
    ERROR contract checked row-wise under the oracle gate — same
    pattern as approx_top_tokens_eviction_bound: the engine-internal
    estimate stays internal; what the oracle hash-checks are the exact
    rank-window bounds and a boolean that the estimate landed inside
    them.  Guarantee (Greenwald-Khanna / Spark docs): with accuracy A,
    the returned value's rank is within eps*N of p*N for eps = 1/A.

    Scale shape: the sketch side is one partial-aggregated shuffle
    (mergeable summaries, no sort); the exact bounds side sorts only
    within each (small) group for verification — at 100 TB you'd keep
    the sketch and drop the audit, or sample it."""
    o = _t(spark, sf_dir, "orders")
    acc = 100  # eps = 1% of N
    probs = [0.5, 0.9, 0.99]
    approx = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", probs, acc).alias("est"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = o.select("o_orderpriority", "o_totalprice").withColumn(
        "rn", F.row_number().over(w)
    )
    checks = []
    for i, p in enumerate(probs):
        lo_rank = F.greatest(F.floor((F.lit(p) - 0.01) * F.col("n")), F.lit(1))
        hi_rank = F.least(F.ceil((F.lit(p) + 0.01) * F.col("n")) + 1, F.col("n"))
        checks.append((i, p, lo_rank, hi_rank))
    est = approx
    for i, p, lo_rank, hi_rank in checks:
        est = est.withColumn(f"lo_rank_{i}", lo_rank).withColumn(f"hi_rank_{i}", hi_rank)
    r = ranked.alias("r")
    out = est
    for i, p, _, _ in checks:
        lo_val = (
            r.join(
                est.select("o_orderpriority", f"lo_rank_{i}"),
                on="o_orderpriority",
            )
            .filter(F.col("rn") == F.col(f"lo_rank_{i}"))
            .select("o_orderpriority", F.col("o_totalprice").alias(f"lo_val_{i}"))
        )
        hi_val = (
            r.join(
                est.select("o_orderpriority", f"hi_rank_{i}"),
                on="o_orderpriority",
            )
            .filter(F.col("rn") == F.col(f"hi_rank_{i}"))
            .select("o_orderpriority", F.col("o_totalprice").alias(f"hi_val_{i}"))
        )
        out = out.join(lo_val, on="o_orderpriority").join(hi_val, on="o_orderpriority")
    return out.select(
        "o_orderpriority",
        "n",
        *[F.round(F.col(f"lo_val_{i}"), 2).alias(f"rank_lo_p{int(p*100)}") for i, p, _, _ in checks],
        *[F.round(F.col(f"hi_val_{i}"), 2).alias(f"rank_hi_p{int(p*100)}") for i, p, _, _ in checks],
        *[
            (
                (F.element_at(F.col("est"), i + 1) >= F.col(f"lo_val_{i}"))
                & (F.element_at(F.col("est"), i + 1) <= F.col(f"hi_val_{i}"))
            ).alias(f"within_p{int(p*100)}")
            for i, p, _, _ in checks
        ],
    )


def streaming_enrich_static(spark, sf_dir):
    """Stream-STATIC enrichment join through the real engine: the event
    stream replays in four triggers and each micro-batch joins to a
    static customer dimension (market segment keyed by user_id) — the
    canonical clickstream-enrichment shape.  Left join keeps events
    with no dimension row (segment NULL), so dropped-row bugs surface
    as count mismatches; the drained result must hash-match the batch
    join's oracle.

    Scale shape: the static side is broadcast once and reused across
    every micro-batch (no stream-side shuffle at all — contrast the
    stream-stream interval join, which keeps keyed state on both
    sides); at 100 TB of events the dim is still MBs."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import drain_to_df, write_ordered_slices

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    sliced = (
        e.crossJoin(F.broadcast(b))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("slice", F.expr("(ts_us - mn) * 4 DIV (mx - mn + 1)"))
        .select("event_id", "user_id", "slice")
    )
    tmp = tempfile.mkdtemp(prefix="tubes_enrich_")
    try:
        write_ordered_slices(
            sliced, [F.col("slice") == i for i in range(4)], f"{tmp}/in"
        )
        stream = (
            spark.readStream.schema("event_id long, user_id long, slice int")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        enriched = stream.join(F.broadcast(c), on="user_id", how="left").select(
            "event_id", "user_id", "c_mktsegment"
        )
        out = drain_to_df(
            enriched, f"stream_enrich_{uuid.uuid4().hex[:8]}", output_mode="append"
        )
        res = out.cache()
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def approx_distinct_bound_check(spark, sf_dir):
    """``approx_count_distinct`` (HLL++) with its error contract checked
    under the oracle gate — the bound-checked companion to
    sketch_distinct_users (which stays rows-only because sketch
    internals differ across engines).  The estimate itself stays
    internal; the oracle hash-checks the exact distinct count and a
    boolean that the estimate landed within 3x the configured relative
    standard deviation (rsd=0.02 => 6%) — deterministic, since HLL on a
    fixed dataset is a pure function.

    Scale shape: the sketch side is one partial-aggregated shuffle of
    fixed-size registers; the exact side is the two-level distinct
    shuffle you'd drop (or sample) at 100 TB."""
    e = _t(spark, sf_dir, "events")
    rsd = 0.02
    sk = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("est"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return sk.join(exact, on="event_type").select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 3 * F.lit(rsd) * F.col("exact_users")
        ).alias("within_3rsd"),
    )


def dedup_simhash_arith_survivors(spark, sf_dir):
    """SimHash dedup under the FULL value-hash oracle gate — the
    verification twin of dedup_simhash_survivors, exactly as
    dedup_minhash_arith_survivors twins the xxhash64 MinHash path: the
    32-bit shingle hash is md5-derived (bit-identical in DuckDB), the
    per-bit majority vote and the packed signature are plain integer
    arithmetic, so every signature and survivor row is hash-checked.

    Scale shape: identical to the production path — distinct shingles
    exploded, 32 codegen'd conditional sums map-side combined into ONE
    shuffle, then a per-signature min and an anti-join."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(text.normalize(F.col("text")), " ")
    base = d.select("doc_id", toks.alias("toks"))
    ex = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.word_shingles_from_tokens(F.col("toks"), 2))
        ).alias("sh"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long").alias("x"),
    )
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(x >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(32)
            ],
            F.lit(0).cast("long"),
        ).alias("sig"),
    )
    w = Window.partitionBy("sig").orderBy(F.col("doc_id").asc())
    return (
        sig.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("doc_id", "sig")
    )


def rolling_1h_user_value(spark, sf_dir):
    """Per-row trailing time-window aggregate (RANGE frame): for every
    event, the count and decimal-exact sum of the same user's values in
    the preceding hour INCLUDING this row — the per-event form of a
    rolling metric (fraud velocity checks, rate limiting), distinct
    from the bucketed sliding_10m windows which emit per-window rows.

    RANGE (not ROWS) so timestamp ties are frame-peers on both engines
    and tie order can't flip the result.  Scale shape: one shuffle on
    user_id, then a sorted in-partition frame scan — Spark keeps a
    sliding frame buffer, no re-scan per row."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double").alias("sum_1h"),
    )


def streaming_upsert_latest(spark, sf_dir):
    """Cross-batch UPSERT materialization through the real engine: each
    micro-batch foreachBatch-merges into an external key->latest store
    (the CDC-apply / mirror-table pattern every warehouse sink needs),
    with batches alternating between two parquet generations so a
    generation is never overwritten while readable.  After the four-
    trigger replay the store must equal the batch latest-event-per-user
    query exactly — the oracle is the same QUALIFY row_number() = 1.

    Scale shape: per batch, one keyed latest-merge shuffle of
    state+batch; state is one row per user.  At 100 TB you'd swap the
    parquet generations for a format with row-level merge (the
    foreachBatch body is the only thing that changes)."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import write_ordered_slices

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    sliced = (
        e.crossJoin(F.broadcast(b))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("slice", F.expr("(ts_us - mn) * 4 DIV (mx - mn + 1)").cast("int"))
        .select("event_id", "ts", "user_id", "value", "slice")
    )
    tmp = tempfile.mkdtemp(prefix="tubes_upsert_")
    state: dict = {"path": None}
    try:
        write_ordered_slices(
            sliced, [F.col("slice") == i for i in range(4)], f"{tmp}/in"
        )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double, slice int"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )

        def upsert(batch_df, batch_id):
            s = batch_df.sparkSession
            cur = batch_df.select("event_id", "ts", "user_id", "value")
            if state["path"] is not None:
                prev = s.read.parquet(state["path"])
                cur = prev.unionByName(cur)
            w = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            latest = (
                cur.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )
            nxt = f"{tmp}/state_{batch_id}"
            latest.write.mode("overwrite").parquet(nxt)
            state["path"] = nxt

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(upsert)
                .queryName(f"stream_upsert_{uuid.uuid4().hex[:8]}")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(600)
        res = (
            spark.read.parquet(state["path"])
            .select("user_id", "event_id", "value")
            .cache()
        )
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_recall_contract_check(spark, sf_dir):
    """The ANN recall@10 contracts, DRIVER-VISIBLE: each approximate
    tier (sign-LSH multi-table, IVF multi-probe, PQ+rerank) is run
    against brute-force cosine ground truth over 20 queries and must
    clear its recall floor — the same thresholds pinned in
    tests/test_dedup_similarity.py (measured on this corpus: lsh 0.89,
    ivf 0.93, pq+rerank 0.96 vs floors 0.85/0.90/0.95).  The seeded
    structures are engine-internal, so what the oracle hash-checks is
    the exact ground-truth pair count and a TRUE per tier: a parameter
    or algorithm change that craters recall becomes a driver-visible
    wrong answer, not just a local test failure.

    The PQ rerank shortlist SCALES WITH THE CORPUS (max(100, |C|/8)):
    a fixed shortlist covers a shrinking fraction as the corpus grows
    and recall craters — caught by exactly this check when the sf0.1
    sweep ran the fixed-100 version against a 10x corpus (0.825 vs the
    0.95 floor).  Shortlist-per-corpus is the knob a production ANN
    serves with; the floors stay fixed.

    Scale shape: verification-side query — the exact tier is |Q|x|C| by
    definition and |Q|=20; the approx tiers are the production path."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    n_corpus = emb.count()
    rerank = max(100, n_corpus // 8)
    exact = similarity.knn_bruteforce(emb, q, k=10).select(
        "query_id", "neighbor_id"
    )
    tiers = {
        "lsh": (
            0.85,
            similarity.knn_lsh(emb, q, dim=64, k=10, n_planes=4, n_tables=16),
        ),
        "ivf": (
            0.90,
            similarity.knn_ivf(emb, q, dim=64, k=10, n_cells=16, n_probe=12),
        ),
        "pq_rerank": (
            0.95,
            similarity.knn_pq_adc(
                emb, q, dim=64, k=10, m=8, n_codes=64, rerank=rerank
            ),
        ),
    }
    n_exact = exact.count()
    rows = []
    for tier, (floor, approx) in tiers.items():
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        rows.append((tier, n_exact, hits / n_exact >= floor))
    return spark.createDataFrame(
        rows, "tier string, n_exact_pairs long, recall_floor_ok boolean"
    )


def text_winnow_arith_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03)
    under the FULL value-hash oracle gate — the md5-derived twin of
    text_winnow_fingerprints (xxhash64, rows-only), completing the
    verification-twin set alongside the MinHash and SimHash arith
    variants: char 8-gram hashes, window w=4 minima, distinct selected
    set, every fingerprint row hash-checked against DuckDB.

    Emitted exploded as (doc_id, fp) rows so the compare is dtype-exact
    (array columns stringify differently across engines).  Scale shape:
    one fan-out exchange (_fan) + one codegen'd projection + explode."""
    d = _fan(_t(spark, sf_dir, "documents"))  # ~500 md5/doc: see _fan
    k, w = 8, 4
    norm = text.normalize(F.col("text"))
    base = d.select("doc_id", norm.alias("nrm"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(F.col("nrm")) - (k - 1), F.lit(1))),
        lambda i: F.col("nrm").substr(i, F.lit(k)),
    )
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    hcol = base.select("doc_id", hashes.alias("hs"))
    n_windows = F.greatest(F.size(F.col("hs")) - (w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(
            F.slice(F.col("hs"), i, F.least(F.lit(w), F.size(F.col("hs"))))
        ),
    )
    return hcol.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


def dedup_invariant_check(spark, sf_dir):
    """Driver-visible INVARIANTS for the seeded (rows-only) dedup
    variants — the same move ann_recall_contract_check makes for the
    ANN tiers: the xxhash64 survivor sets stay engine-internal, but
    each variant's hard invariants are emitted as booleans the oracle
    hash-checks.  Checked per variant: the survivor set is non-empty,
    no larger than the corpus, and — because identical canonical text
    implies identical shingle sets, hence jaccard 1 and equal
    signatures — NO two exact-twin documents may both survive any
    near-dedup tier.  A seeding/banding regression that stops catching
    verbatim copies becomes a driver-visible wrong answer.

    Scale shape: each variant is its production plan plus one md5
    self-twin check on the (small) survivor set."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    canon = F.md5(text.normalize(F.col("text"))).alias("__h__")

    def _twins_survive(surv):
        s = d.join(surv.select("doc_id"), "doc_id", "left_semi").select(
            "doc_id", canon
        )
        return (
            s.groupBy("__h__").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1).count()
            > 0
        )

    variants = {
        "minhash_greedy": dedup.dedup_minhash(d, threshold=0.8),
        "minhash_components": dedup.dedup_minhash(d, threshold=0.8, policy="components"),
        "simhash_exact": dedup.dedup_simhash(d, bits=32),
    }
    rows = []
    for name, surv in variants.items():
        n = surv.count()
        rows.append((name, 0 < n <= n_docs, not _twins_survive(surv)))
    return spark.createDataFrame(
        rows, "variant string, size_ok boolean, no_exact_twin_survivors boolean"
    )


def custom_source_arith_events(spark, sf_dir):
    """CUSTOM CONNECTOR under the oracle gate: a Python DataSource V2
    (tubes_spark/datasource.py) — the Spark-native form of the
    reference's hand-me-a-producer Source abstraction (Tubes/Source.hs
    sample/Source) — planned and scanned by the engine like any
    built-in format.  The source is deterministic integer arithmetic,
    so DuckDB reproduces the full output from range(): the ingest
    surface itself gets value-hash verification, not just the operators
    downstream of it.

    Scale shape: partitions() hands each executor a contiguous id
    range; rows are generated executor-side (no driver buffering), and
    the downstream agg is one partial-aggregated shuffle."""
    from tubes_spark import datasource

    datasource.register(spark)
    df = (
        spark.read.format("arith_events")
        .option("n_rows", 20000)
        .option("n_parts", 8)
        .load()
    )
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
    )


def custom_stream_source_drain(spark, sf_dir):
    """The custom connector's UNBOUNDED form through the real streaming
    engine: a Python DataSourceStreamReader advancing a monotone integer
    offset (the minimal Kafka-shaped contract — initialOffset /
    latestOffset / partitions(start,end) / replayable read) admits
    rows_per_batch ids per trigger; the drained append stream must
    contain exactly the first max_rows generated rows — the reference's
    `prompt` (Tubes.hs:182-189) with offset tracking and retryable
    ranges, under the oracle gate."""
    import time
    import uuid

    from tubes_spark import datasource

    datasource.register(spark)
    max_rows = 1000
    df = (
        spark.readStream.format("arith_events")
        .option("rows_per_batch", 200)
        .option("max_rows", max_rows)
        .option("n_parts", 4)
        .load()
    )
    name = f"custom_stream_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 300
        while time.time() < deadline:
            if spark.table(name).count() >= max_rows:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    res = spark.table(name).cache()
    res.count()
    return res


def chunk_documents_ctx(spark, sf_dir):
    """Context-window chunking — the LLM-pretraining step that slices
    each document into fixed-size token windows with overlap (size 64,
    stride 48 here): the operator that turns a cleaned corpus into
    model-ready sequences, upstream of pack_sequences_bins.  Built-in
    array expressions only (sequence/slice/array_join — a UDTF would be
    the slow path): chunk text is emitted as its md5 so the oracle
    hash-checks every chunk's CONTENT, not just counts, while keeping
    the result narrow.

    Scale shape: one codegen'd projection + explode; rows = total
    windows; no shuffle.  The chunk hash also doubles as the join key
    a downstream global chunk-dedup would use."""
    size, stride = 64, 48
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", text.tokenize(F.col("text")).alias("toks"))
    n = F.size("toks")
    # window w covers tokens [w*stride, w*stride+size); last window is
    # the first one whose start reaches n-size (ceil), min one window
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((n - F.lit(size)) / F.lit(stride)).cast("long"), F.lit(0)),
    )
    chunked = base.select(
        "doc_id", F.col("toks"), F.explode(starts).alias("w")
    ).select(
        "doc_id",
        F.col("w").cast("int").alias("chunk_idx"),
        F.slice(F.col("toks"), F.col("w") * stride + 1, size).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.col("chunk"), " ")).alias("chunk_md5"),
    )


def embedding_sq8_roundtrip(spark, sf_dir):
    """Scalar quantization (SQ8) of the embedding column — the third
    compression tier alongside PQ codes and raw vectors: per-DIMENSION
    min/max over the corpus, each component rounded to an 8-bit level,
    then reconstructed.  Emits per-vector reconstruction error stats,
    all deterministic arithmetic, so the oracle hash-checks the whole
    quantize->dequantize round trip (unlike PQ, whose k-means codebooks
    are seeded).  Error contract on the same row: max |err| must not
    exceed half a quantization step of the widest dimension.

    Scale shape: the 64x2 min/max table is one partial-aggregated
    shuffle and broadcasts back; quantization is a per-row projection.
    At 100 TB you'd train bounds on a sample — same plan with a filter."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = 64
    pos = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("d", "v")
    ).select("vec_id", "d", F.col("v").cast("double").alias("v"))
    bounds = pos.groupBy("d").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    q = (
        pos.join(F.broadcast(bounds), "d")
        .withColumn("span", F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12)))
        .withColumn(
            "code",
            F.round((F.col("v") - F.col("lo")) / F.col("span") * 255).cast("int"),
        )
        .withColumn(
            "recon", F.col("lo") + F.col("code") * F.col("span") / F.lit(255.0)
        )
        .withColumn("err", F.abs(F.col("recon") - F.col("v")))
    )
    max_step = bounds.agg(
        F.max(F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12))).alias("mx")
    )
    return (
        q.groupBy("vec_id")
        .agg(
            F.round(F.max("err"), 6).alias("max_err"),
            F.round(
                F.sum(F.col("err").cast("decimal(27,18)")).cast("double") / dim, 6
            ).alias("mean_err"),
        )
        .crossJoin(F.broadcast(max_step))
        .select(
            "vec_id",
            "max_err",
            "mean_err",
            (F.col("max_err") <= F.col("mx") / 255.0 / 2.0 + 1e-9).alias("within_half_step"),
        )
    )


def build_vocab_ids(spark, sf_dir):
    """Frequency-ranked vocabulary construction — the tokenizer-prep
    step that maps each corpus token to a dense integer id (rank by
    count desc, token asc for determinism), emitting the top 500 with
    coverage stats.  Scale shape: one token-count shuffle, then a
    single-partition top-k sort on the (tiny) vocabulary table — the
    corpus is never globally sorted; at open-vocabulary scale cap with
    the SpaceSaving sketch first (approx_top_tokens) and rank exactly
    only the survivors."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokenize(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    total = counts.agg(F.sum("n").alias("corpus_tokens"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("int"))
        .filter(F.col("token_id") <= 500)
        .crossJoin(F.broadcast(total))
        .select(
            "token_id",
            "tok",
            "n",
            F.round(F.col("n") / F.col("corpus_tokens"), 6).alias("corpus_frac"),
        )
    )


def zorder_key_events(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, event-hour) —
    the multi-column layout key behind lakehouse Z-ORDER: feed it to
    sources.write_sorted_by and parquet footer min/max stats prune
    scans filtered on EITHER dimension.  Interleaving is pure bit
    arithmetic (sources.morton_key), so the full 32-bit key is
    hash-checked by the oracle on every row.

    Scale shape: per-row projection, no shuffle; the clustered WRITE
    (repartitionByRange on zkey) is the one range exchange a layout
    rewrite inherently needs."""
    from tubes_spark.sources import morton_key

    e = _t(spark, sf_dir, "events")
    u = F.col("user_id")
    h = F.expr("unix_micros(ts) DIV 3600000000")
    return e.select(
        "event_id", morton_key(u, h, bits=16).alias("zkey")
    )


def ansi_try_funcs(spark, sf_dir):
    """Error-safe expression battery: ``try_divide`` / ``try_add`` /
    ``try_element_at`` / ``try_to_number`` return NULL where strict ANSI
    evaluation would raise — the functions a 100 TB pipeline uses so one
    malformed row poisons a value, not a stage.  Exercised over events
    with constructed hazards (zero divisors, long-overflow adds,
    out-of-range indices, non-numeric strings); the oracle reproduces
    each NULL case with guarded CASE arithmetic.

    Scale shape: per-row projection, no shuffle."""
    e = _t(spark, sf_dir, "events")
    toks = F.split(F.col("event_type"), "_")
    return e.select(
        "event_id",
        F.try_divide(F.col("value"), (F.col("event_id") % 10).cast("double")).alias(
            "div10"
        ),
        F.try_add(
            F.lit(9_223_372_036_854_775_807).cast("long"),
            (F.col("event_id") % 2).cast("long"),
        ).alias("overflow_add"),
        F.try_element_at(toks, (F.col("event_id") % 4 + 1).cast("int")).alias(
            "maybe_part"
        ),
        F.try_to_number(
            F.get_json_object("props", "$.k"), F.lit("999")
        ).cast("double").alias("k_num"),
    )


def streaming_incremental_rollup(spark, sf_dir):
    """Incremental MATERIALIZED-VIEW maintenance through the real
    engine: each micro-batch's partial hourly counts are foreachBatch-
    ADDED into an external rollup table (alternating parquet
    generations) — the additive companion to streaming_upsert_latest's
    replace-merge, and the maintenance loop behind every warehouse
    rollup that can't afford full recomputes.  After the four-trigger
    replay the accumulated table must equal the batch hourly rollup
    exactly; a lost or double-applied batch surfaces as a count
    mismatch.

    Scale shape: per batch, one partial-agg shuffle of the BATCH only
    (state table rows = distinct hours, tiny); the full fact table is
    never rescanned.  Unlike the upsert (whose latest-merge is naturally
    idempotent), an additive merge double-applies on a retried batch —
    production guards it by recording the applied batch_id with the
    state (transactional sink); the bounded AvailableNow replay here
    runs each batch exactly once."""
    import shutil
    import tempfile
    import uuid

    from tubes_spark.streaming.run import write_ordered_slices

    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    sliced = (
        e.crossJoin(F.broadcast(b))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("slice", F.expr("(ts_us - mn) * 4 DIV (mx - mn + 1)").cast("int"))
        .select("event_id", "ts", "slice")
    )
    tmp = tempfile.mkdtemp(prefix="tubes_incr_rollup_")
    state: dict = {"path": None}
    try:
        write_ordered_slices(
            sliced, [F.col("slice") == i for i in range(4)], f"{tmp}/in"
        )
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, slice int")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )

        def add_batch(batch_df, batch_id):
            s = batch_df.sparkSession
            part = batch_df.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour")
            ).agg(F.count(F.lit(1)).alias("n"))
            if state["path"] is not None:
                prev = s.read.parquet(state["path"])
                part = (
                    prev.unionByName(part)
                    .groupBy("hour")
                    .agg(F.sum("n").alias("n"))
                )
            nxt = f"{tmp}/state_{batch_id}"
            part.write.mode("overwrite").parquet(nxt)
            state["path"] = nxt

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(add_batch)
                .queryName(f"stream_rollup_{uuid.uuid4().hex[:8]}")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(600)
        res = (
            spark.read.parquet(state["path"])
            .select("hour", F.col("n").cast("long").alias("n_events"))
            .cache()
        )
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def corpus_quality_report(spark, sf_dir):
    """The curation DASHBOARD query: one GROUPING SETS pass over
    (lang, source) emitting per-cell and marginal corpus health — doc
    counts, token volume, exact-duplicate rate, and mean doc length —
    the report a data team reads before green-lighting a crawl into the
    training mix.  Composes the battery's primitives (canonical-text
    md5 dup detection, whitespace token counts) into one plan.

    Scale shape: one pre-aggregation per doc (no text ever grouped —
    the dup bit rides an md5 window), then a single Expand+shuffle for
    the grouping sets; output rows = cells + margins, tiny."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(text.normalize(F.col("text"))))
    per_doc = d.select(
        "lang",
        "source",
        text.token_count(F.col("text")).cast("long").alias("n_toks"),
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.count(F.lit(1)).over(w) > 1).cast("int").alias("is_dup"),
    )
    import uuid

    view = f"__cq_per_doc_{uuid.uuid4().hex[:8]}"
    per_doc.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT
          coalesce(lang, 'ALL') AS lang,
          coalesce(source, 'ALL') AS source,
          count(*) AS n_docs,
          CAST(sum(n_toks) AS BIGINT) AS total_tokens,
          round(sum(is_dup) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
          round(CAST(sum(CAST(n_chars AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS mean_chars
        FROM {view}
        GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        """
    )


def bpe_first_merges(spark, sf_dir):
    """The first iteration of distributed BPE training under the oracle
    gate: weighted adjacent character-pair counts over the lowercased
    word vocabulary, top 30 by (count desc, pair asc) — the statistic
    every subsequent merge decision (operators/bpe.py bpe_train, whose
    full iterative loop is pinned against a pure-Python reference in
    tests) is computed from.

    Scale shape: the corpus collapses once to (word, count); the pair
    count is one explode + one map-side-combined shuffle over the
    (tiny) vocabulary — iteration cost is independent of corpus size."""
    from tubes_spark.operators import bpe

    d = _t(spark, sf_dir, "documents")
    vocab = bpe.word_vocab(d)
    syms = vocab.select(F.split(F.col("w"), "").alias("syms"), F.col("n"))
    counts = bpe.pair_counts(syms)
    w = Window.orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 30)
        .select("rank", "a", "b", "cnt")
    )


def multimodal_image_ahash(spark, sf_dir):
    """Perceptual average-hash over REAL decoded pixels, under the
    oracle gate: the same per-doc synthetic BMPs as
    multimodal_bmp_mean_rgb are decoded executor-side
    (operators/multimodal.py::bmp_ahash_hex — 8x8 nearest-neighbor
    grid, integer gray sums, exact /64 threshold) and every 64-bit hash
    is reproduced by DuckDB from the pixel formulas.  aHash is the
    image near-dup primitive: near-duplicates differ in a few bits, so
    dedup over it is the SimHash banding machinery applied to images.

    Scale shape: one JVM binary-construction projection + one
    Arrow-batched decode/hash pass; binary never leaves executors."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tubes_spark.operators.multimodal import bmp_ahash_hex

    d = _t(spark, sf_dir, "documents")
    media = _synth_bmp_media(d)

    # no annotation form: `from __future__ import annotations` turns
    # hints into strings pyspark's typehint resolver rejects
    ahash = pandas_udf(lambda content: content.map(bmp_ahash_hex), "string")

    return media.select("media_id", ahash(F.col("content")).alias("ahash"))


def multimodal_png_ahash(spark, sf_dir):
    """REAL compressed-format pixels under the ORACLE gate: each doc's
    gradient image (the SAME per-row RGB formulas as the BMP queries)
    is encoded executor-side into a genuine PNG — stdlib zlib deflate,
    CRC-correct chunks, and a DIFFERENT scanline filter per row (None/
    Sub/Up/Average/Paeth cycled) — then decoded back through the full
    inflate + unfilter path (operators/multimodal.py::decode_png) and
    perceptually hashed.  DuckDB reproduces every 64-bit hash from the
    pixel formulas, so the whole compression roundtrip (and all five
    unfilter branches) is engine-verified on every row.  This kills the
    last image-decode stub: PNG pixels are now as real as BMP's.

    Scale shape: two Arrow-batched per-row passes (encode, decode+hash)
    — no shuffle, no driver data; binary stays executor-side."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tubes_spark.operators.multimodal import encode_png, png_ahash_hex

    d = _fan(_t(spark, sf_dir, "documents")).select("doc_id", "n_chars")

    def build(batches):
        import numpy as np

        for pdf in batches:
            contents = []
            for doc_id, n_chars in zip(
                pdf["doc_id"].astype("int64"), pdf["n_chars"].astype("int64")
            ):
                h = 8
                w = int(n_chars % 16 + 1)
                # the BMP twin stores bottom-up, so its DECODED row i
                # carries formula index 7-i; build the identical pixel
                # array so the two codecs hash bit-for-bit the same
                r = np.arange(h - 1, -1, -1).reshape(h, 1)
                arr = np.zeros((h, w, 3), np.uint8)
                arr[..., 0] = (int(doc_id) * 3 + r) % 256  # red
                arr[..., 1] = (int(n_chars) + 2 * r) % 256  # green
                arr[..., 2] = (int(doc_id) + r) % 256       # blue
                contents.append(encode_png(arr, filters=[0, 1, 2, 3, 4]))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "content": contents}
            )

    media = d.mapInPandas(build, "media_id string, content binary")
    ahash = pandas_udf(lambda content: content.map(png_ahash_hex), "string")
    return media.select("media_id", ahash(F.col("content")).alias("ahash"))


def multimodal_jpeg_ahash(spark, sf_dir):
    """ENTROPY-CODED pixels under the ORACLE gate — kills the last
    image-codec stub (VERDICT-r6 #8): each doc's 8x64 grayscale image
    (eight flat 8x8 blocks, value (doc_id*37 + n_chars + b*59) % 256)
    is encoded executor-side into a genuine baseline JPEG — real DCT,
    quantization, DC-differential + run-length coding, standard Annex
    K Huffman tables, byte stuffing — then decoded back through the
    full Huffman + dequant + IDCT path
    (operators/multimodal.py::decode_jpeg_gray) and perceptually
    hashed.  Flat blocks make the lossy codec pixel-EXACT (AC
    coefficients are identically 0; the DC level is divisible by its
    quant step), so DuckDB reproduces every 64-bit hash from the block
    formulas and the whole entropy roundtrip is engine-verified per
    row.  General-content accuracy is pinned separately by roundtrip
    fuzz tests (tests/test_round7.py).

    Scale shape: two Arrow-batched per-row passes (encode,
    decode+hash) — no shuffle, no driver data."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tubes_spark.operators.multimodal import encode_jpeg_gray, jpeg_ahash_hex

    d = _fan(_t(spark, sf_dir, "documents")).select("doc_id", "n_chars")

    def build(batches):
        import numpy as np

        for pdf in batches:
            contents = []
            for doc_id, n_chars in zip(
                pdf["doc_id"].astype("int64"), pdf["n_chars"].astype("int64")
            ):
                g = (int(doc_id) * 37 + int(n_chars)
                     + np.arange(8) * 59) % 256
                img = np.kron(g.reshape(1, 8), np.ones((8, 8), int)).astype(np.uint8)
                contents.append(encode_jpeg_gray(img))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "content": contents}
            )

    media = d.mapInPandas(build, "media_id string, content binary")
    ahash = pandas_udf(lambda content: content.map(jpeg_ahash_hex), "string")
    return media.select("media_id", ahash(F.col("content")).alias("ahash"))


def multimodal_audio_energy(spark, sf_dir):
    """REAL decoded AUDIO under the oracle gate, completing the
    multimodal triad (image pixels: multimodal_image_ahash; video frame
    plan: multimodal_frame_sample): a complete 16-bit mono PCM WAV is
    built per doc JVM-side (44-byte RIFF header + 1024 deterministic
    samples), decoded executor-side by the pure-stdlib PCM parser
    (operators/multimodal.py::decode_wav_pcm16), and the per-window
    sum-of-squares energies — integers end to end — are reproduced by
    DuckDB from the sample formula.

    Scale shape: one fan-out exchange of the raw rows (_fan: the
    sample-synthesis projection is CPU-bound), one JVM binary-
    construction projection, one Arrow-batched decode pass, a 4-row
    explode per doc."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from tubes_spark.operators.multimodal import wav_energy_windows

    d = _fan(_t(spark, sf_dir, "documents"))  # 1024-sample hex build/doc
    n_samples = 1024
    data_size = n_samples * 2
    # RIFF/WAVE header for PCM16 mono 8kHz: sizes little-endian
    def le4(v: int) -> str:
        return "".join(f"{(v >> (8 * i)) & 255:02X}" for i in range(4))

    header_hex = (
        "52494646" + le4(36 + data_size) + "57415645"          # RIFF size WAVE
        "666D7420" + le4(16) + "0100" + "0100"                 # fmt, PCM, mono
        + le4(8000) + le4(16000) + "0200" + "1000"             # rate, byterate, align, bits
        + "64617461" + le4(data_size)                           # data chunk
    )
    # sample t: stored word = (doc_id*7 + t*13) % 65536, int16 LE (two's complement)
    pcm = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_samples - 1)),
                lambda t: F.concat(
                    F.lpad(F.hex(((F.col("doc_id") * 7 + t * 13) % 65536) % 256), 2, "0"),
                    F.lpad(F.hex(F.floor(((F.col("doc_id") * 7 + t * 13) % 65536) / 256)), 2, "0"),
                ),
            ),
            "",
        ).alias("pcm_hex"),
    )
    media = pcm.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.unhex(F.concat(F.lit(header_hex), F.col("pcm_hex"))).alias("content"),
    )
    energies = pandas_udf(
        lambda content: content.map(wav_energy_windows), "array<long>"
    )
    return media.select(
        "media_id", F.posexplode(energies(F.col("content"))).alias("win", "sumsq")
    ).select("media_id", F.col("win").cast("int").alias("win"), "sumsq")


def multimodal_adpcm_energy(spark, sf_dir):
    """COMPRESSED audio under the oracle gate — the round-8 closer for
    the last codec stub (VERDICT-r7 #8): a real pure-numpy IMA-ADPCM
    decoder (operators/multimodal.py::decode_adpcm_ima — the standard
    table-driven 4-bit delta codec, RFC 3551 §4.5.1 scheme) runs
    executor-side over a deterministic per-doc nibble stream built
    JVM-side, and DuckDB reproduces the DECODED samples exactly by
    replaying the same predictor state machine as a RECURSIVE CTE over
    the same integer step/index tables — so the codec's output, not
    just its plumbing, is hash-checked cross-engine (same discipline
    as the JPEG/PNG/BMP family, extended to a stateful decoder).

    Per doc: 256 nibbles ((doc_id*13 + t*7) % 16), decoded from the
    (0, 0) initial state; per-64-sample sum-of-squares energies are
    integers end to end.

    Scale shape: one fan-out exchange (_fan), one JVM binary-build
    projection, one Arrow-batched decode pass, a 4-row explode."""
    from pyspark.sql.functions import pandas_udf

    from tubes_spark.operators.multimodal import adpcm_energy_windows

    n_samples = 256
    d = _fan(_t(spark, sf_dir, "documents"))
    # ADP1 container: magic + uint32 LE n + int16 init pred + uint8
    # init idx + pad, then packed nibbles (low nibble = earlier sample)
    header_hex = "41445031" + "00010000" + "0000" + "00" + "00"
    packed = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_samples // 2 - 1)),
                lambda j: F.lpad(
                    F.hex(
                        (F.col("doc_id") * 13 + (j * 2) * 7) % 16
                        + ((F.col("doc_id") * 13 + (j * 2 + 1) * 7) % 16) * 16
                    ),
                    2, "0",
                ),
            ),
            "",
        ).alias("nib_hex"),
    )
    media = packed.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.unhex(F.concat(F.lit(header_hex), F.col("nib_hex"))).alias("content"),
    )
    energies = pandas_udf(
        lambda content: content.map(adpcm_energy_windows), "array<long>"
    )
    return media.select(
        "media_id", F.posexplode(energies(F.col("content"))).alias("win", "sumsq")
    ).select("media_id", F.col("win").cast("int").alias("win"), "sumsq")


def dedup_images_ahash(spark, sf_dir):
    """IMAGE near-dedup end to end: decode pixels -> perceptual aHash
    (multimodal_image_ahash) -> keep the lowest media_id per hash —
    exact-signature image dedup, the radius-0 case of the SimHash
    banding machinery applied to a binary modality.  Fully oracle-gated
    because the synthetic pixels are deterministic.

    Scale shape: decode is a per-row Arrow pass; the survivor pick is
    ONE narrow shuffle on the 64-bit hash — text never moves, pixels
    never move, only (hash, id) pairs."""
    hashes = multimodal_image_ahash(spark, sf_dir)
    w = Window.partitionBy("ahash").orderBy(F.col("media_id").asc())
    return (
        hashes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("media_id", "ahash")
    )


def pipeline_curation_end_to_end(spark, sf_dir):
    """The WHOLE curation pipeline as ONE Catalyst DAG — the deliverable
    a user of this engine actually ships: raw corpus -> exact dedup
    (lowest-id survivor per normalized text) -> Gopher quality gate
    (token bounds, mean word length, stop-words, long-word and
    alpha-word fractions) -> context-window chunking (size 64, stride
    48) -> per-shard export manifest with a content digest.  Every
    stage reuses the exact semantics its standalone query already
    hash-verifies; composing them in one plan is the point — Catalyst
    pipelines the dedup window, the gate projection, and the chunk
    explode into a single pass over the corpus with ONE narrow shuffle
    on the content hash and one 8-key manifest aggregate at the end.

    Scale shape: stage boundaries are logical, not materialization
    barriers — no intermediate writes, no driver data; the only wide
    exchanges are the dedup hash shuffle and the final manifest
    rollup."""
    size, stride = 64, 48
    d = _t(spark, sf_dir, "documents")
    surv = dedup.dedup_exact(d)
    t = surv.select("doc_id", text.tokenize(F.col("text")).alias("toks"))
    n = F.size("toks")
    sum_len = F.aggregate("toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    mean_len = sum_len / n
    stops = F.array(*[F.lit(s) for s in ("the", "a", "of", "to", "and", "is", "in")])
    stop_frac = F.size(F.array_intersect("toks", stops)) / F.lit(7.0)
    long_frac = F.size(F.filter("toks", lambda x: F.length(x) >= 3)) / n
    alpha_frac = F.size(F.filter("toks", lambda x: x.rlike("[A-Za-z]"))) / n
    keep = (
        (n >= 50) & (n <= 100000)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (stop_frac >= (2.0 / 7.0))
        & (long_frac >= 0.6)
        & (alpha_frac >= 0.8)
    )
    gated = t.filter(keep)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((n - F.lit(size)) / F.lit(stride)).cast("long"), F.lit(0)),
    )
    chunks = gated.select(
        "doc_id", F.col("toks"), F.explode(starts).alias("w")
    ).select(
        "doc_id",
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        F.slice(F.col("toks"), F.col("w") * stride + 1, size).alias("chunk"),
    )
    return (
        chunks.select(
            "doc_id",
            "shard",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("chunk_md5").alias("content_digest"),
        )
    )


def custom_sink_manifest_roundtrip(spark, sf_dir):
    """The WRITE-side connector under the ORACLE gate: per-user event
    counts flow OUT through the custom Python DataSource writer
    (datasource.ManifestJsonlDataSource — task temp files, driver
    manifest as the atomic commit point) and back IN by reading exactly
    the files the manifest published.  A hash match against plain SQL
    proves the whole egress protocol — task files, commit messages,
    manifest move — preserves every row bit-for-bit, the same
    verification discipline the read-side connector already gets from
    custom_source_arith_events.

    Scale shape: one partial-aggregated shuffle to the counts; the
    write is one file per task with no driver buffering; the read-back
    lists only manifest-published files."""
    import json
    import shutil
    import tempfile

    from tubes_spark import datasource

    datasource.register(spark)
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tmp = tempfile.mkdtemp(prefix="tubes_sink_")
    try:
        agg.write.format("manifest_jsonl").option("path", f"{tmp}/out").mode(
            "append"
        ).save()
        with open(f"{tmp}/out/manifest.json") as fh:
            manifest = json.load(fh)
        files = [f"{tmp}/out/data/{m['file']}" for m in manifest["files"]]
        back = spark.read.schema("n long, user_id long").json(files)
        return back.select("user_id", "n").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def tombstone_delete_propagation(spark, sf_dir):
    """Right-to-be-forgotten propagation with an audit trail — the
    compliance op every 100 TB corpus eventually runs: a tombstone set
    (deterministic ~1% of doc_ids here) must cascade from the source
    table into every derived artifact, and the deletion has to be
    PROVABLE, not just performed.  The context-window chunk store is
    the derived artifact; the result is a per-shard audit: chunks and
    token mass before, after, and removed, plus how many tombstoned
    docs actually had material in the shard.

    Scale shape: the tombstone set is the broadcast side of one
    LEFT ANTI join against the chunk stream (the corpus never
    re-shuffles to find its deletions); the before/after audits are
    two partial-aggregated shuffles onto 8 shard keys.  At the real
    scale the same anti-join runs per shard file and the audit is the
    retention evidence."""
    chunks = chunk_documents_ctx(spark, sf_dir).withColumn(
        "shard", (F.col("doc_id") % 8).cast("int")
    )
    tomb = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select("doc_id")
    )
    before = chunks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("chunks_before"),
        F.sum("n_tokens").alias("tokens_before"),
    )
    kept = chunks.join(F.broadcast(tomb), "doc_id", "left_anti")
    after = kept.groupBy("shard").agg(
        F.count(F.lit(1)).alias("chunks_after"),
        F.sum("n_tokens").alias("tokens_after"),
    )
    removed_docs = (
        chunks.join(F.broadcast(tomb), "doc_id")
        .groupBy("shard")
        .agg(F.countDistinct("doc_id").alias("docs_removed"))
    )
    return (
        before.join(after, "shard", "left")
        .join(removed_docs, "shard", "left")
        .select(
            "shard",
            "chunks_before",
            F.coalesce("chunks_after", F.lit(0)).alias("chunks_after"),
            (F.col("chunks_before") - F.coalesce("chunks_after", F.lit(0)))
            .alias("chunks_removed"),
            "tokens_before",
            F.coalesce("tokens_after", F.lit(0)).alias("tokens_after"),
            F.coalesce("docs_removed", F.lit(0)).cast("long").alias("docs_removed"),
        )
    )


def export_manifest_shards(spark, sf_dir):
    """The END of the pipeline: a training-data export manifest.
    Context-window chunks (chunk_documents_ctx) are assigned to 8
    shards by doc hash, and the manifest reports per shard the chunk
    count, distinct source documents, total tokens, and a content
    digest (min chunk md5 — order-insensitive, so it is stable across
    engines) — what a downstream trainer reads to plan its data
    loader.

    Scale shape: chunking is shuffle-free; the manifest is one
    partial-aggregated shuffle on the 8 shard keys."""
    chunks = chunk_documents_ctx(spark, sf_dir)
    shard = (F.col("doc_id") % 8).cast("int")
    return (
        chunks.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("chunk_md5").alias("content_digest"),
        )
    )


def full_outer_user_reconciliation(spark, sf_dir):
    """FULL OUTER join — the one join flavor the battery lacked:
    reconcile per-user event activity against order activity, keeping
    users present on either side only (the data-quality join every
    warehouse runs to find dangling keys).  Null-side handling is the
    point: the key is coalesced across sides and the status column
    makes dropped-row bugs a visible wrong answer.

    Scale shape: two partial-aggregated count shuffles collapse each
    side to one row per user BEFORE the join, so the full-outer
    exchange moves (user, count) pairs, never raw facts."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    ev = e.groupBy(F.col("user_id").alias("eu")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    od = o.groupBy(F.col("o_custkey").alias("ou")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = ev.join(od, ev["eu"] == od["ou"], "full_outer")
    return j.select(
        F.coalesce(F.col("eu"), F.col("ou")).alias("user_id"),
        "n_events",
        "n_orders",
        F.when(F.col("eu").isNull(), F.lit("orders_only"))
        .when(F.col("ou").isNull(), F.lit("events_only"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


# --------------------------------------------------------------------------
# Round 5b: corpus curation depth + physical layout + no-equi-key ranges
# --------------------------------------------------------------------------

def gopher_quality_flags(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    shape): token count bounds, mean word length band, stop-word
    presence, a long-word (length>=3) fraction, and the TRUE Gopher
    alphabetic rule — min 80% of words must contain at least one
    alphabetic character — each emitted as its own flag plus the
    combined keep decision, the standard pretraining pre-filter.
    All JVM Column exprs over one materialized token array (no UDF,
    no shuffle: pure per-row projection)."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokenize(F.col("text"))
    d = d.select("doc_id", "lang", toks.alias("toks"))
    n = F.size("toks")
    sum_len = F.aggregate("toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    mean_len = sum_len / n
    stops = F.array(*[F.lit(s) for s in ("the", "a", "of", "to", "and", "is", "in")])
    stop_frac = F.size(F.array_intersect("toks", stops)) / F.lit(7.0)
    long_frac = F.size(F.filter("toks", lambda x: F.length(x) >= 3)) / n
    alpha_frac = F.size(F.filter("toks", lambda x: x.rlike("[A-Za-z]"))) / n
    ok_n = (n >= 50) & (n <= 100000)
    ok_len = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_stop = stop_frac >= (2.0 / 7.0)
    ok_long = long_frac >= 0.6
    ok_alpha = alpha_frac >= 0.8
    return d.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_toks"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(stop_frac, 6).alias("stop_hit_frac"),
        F.round(long_frac, 6).alias("long_word_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        ok_n.alias("ok_n_toks"),
        ok_len.alias("ok_mean_len"),
        ok_stop.alias("ok_stopwords"),
        ok_long.alias("ok_long_words"),
        ok_alpha.alias("ok_alpha"),
        (ok_n & ok_len & ok_stop & ok_long & ok_alpha).alias("keep"),
    )


def boilerplate_shingle_flags(spark, sf_dir):
    """Boilerplate detection, C4/RefinedWeb style: a 5-gram that recurs
    across >=3 DISTINCT documents is template text; documents whose
    shingle mass is >5% boilerplate get flagged for removal.

    Scale shape: explode to (doc, shingle) — one partial-aggregated
    shuffle keyed on the shingle for the cross-corpus df, one broadcast-
    able join of the (small) boilerplate set back onto the shingle
    stream, one shuffle back to doc_id.  At 100 TB the shingle string
    is replaced by xxhash64(shingle) so the df shuffle moves 8-byte
    keys; kept as text here for the DuckDB twin."""
    d = _fan(_t(spark, sf_dir, "documents"))  # parallelize the explode
    toks = text.tokenize(F.col("text"))
    sh = d.select(
        "doc_id", F.explode(text.word_shingles_from_tokens(toks, 5)).alias("sh")
    ).localCheckpoint(eager=True)  # read twice: df pass + flag join
    boiler = (
        sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 3)
        .select("sh")
    )
    flagged = sh.join(F.broadcast(boiler.withColumn("__b__", F.lit(1))), "sh", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__b__"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias("boiler_frac"),
            (F.col("n_boiler") / F.col("n_shingles") > 0.05).alias("flag_boiler"),
        )
    )


def vocab_oov_rate(spark, sf_dir):
    """Tokenizer-coverage QA: out-of-vocabulary rate per document
    against the corpus top-20 vocabulary (count desc, token asc —
    fully deterministic rank).  The vocab is the bounded side: top-K
    by construction, so it broadcasts; the token stream is never
    collected.  Reports per-doc token count, OOV count and rate —
    the go/no-go metric before committing a tokenizer to a corpus.

    The top-20 is ``orderBy(...).limit(20)``, which Spark plans as
    TakeOrderedAndProject (per-partition top-20, then a 20-row merge
    on the driver) — NOT a row_number window, whose global ORDER BY
    would exchange the entire distinct-token vocabulary to a single
    partition."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(text.tokenize(F.col("text"))).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
        .select("tok", F.lit(1).alias("__inv__"))
    )
    joined = tok.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.when(F.col("__inv__").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_toks",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_toks"), 6).alias("oov_rate"),
        )
    )


_DERIVED_CACHE: dict = {}


def _session_cached(kind: str, spark, sf_dir: str, build):
    """Per-(session, sf_dir) memo for shared derived structures (the
    trigram-cosine sim pairs, the rare-shingle edge list).  Three-plus
    headline queries derive the same graph; each stays STANDALONE (a
    fresh session rebuilds on first touch), but a driver/bench session
    running several of them materializes the expensive derivation once
    and the later queries see only their marginal cost.  The builder
    must return an eagerly-materialized frame (localCheckpoint) or the
    memo would share a plan, not work."""
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    if key not in _DERIVED_CACHE:
        _DERIVED_CACHE[key] = build()
    return _DERIVED_CACHE[key]


def clear_derived_cache() -> None:
    """Drop the session-shared derived structures so the next consumer
    rebuilds from scratch — the bench uses this to report COLD vs
    MARGINAL cost for the graph family separately (a cached best-of-N
    would otherwise read as a plan win; VERDICT-r6 #9)."""
    _DERIVED_CACHE.clear()


def _rare_shingle_pairs(spark, sf_dir):
    """df=2 5-gram co-occurrence edges (u < v, distinct, materialized)
    — the sparse near-dup candidate graph shared by the BFS and
    triangle queries.  df=2 is the structural heavy-hitter
    guard: each qualifying shingle emits exactly ONE pair, so the pair
    join can never go quadratic in a bucket."""

    def build():
        d = _fan(_t(spark, sf_dir, "documents"))
        toks = text.tokenize(F.col("text"))
        sh = d.select(
            "doc_id", F.explode(text.word_shingles_from_tokens(toks, 5)).alias("sh")
        ).distinct().localCheckpoint(eager=True)
        rare = (
            sh.groupBy("sh")
            .agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") == 2)
            .select("sh")
        )
        return (
            sh.join(F.broadcast(rare), "sh")
            .alias("a")
            .join(sh.join(F.broadcast(rare), "sh").alias("b"), "sh")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return _session_cached("rare_shingle_pairs", spark, sf_dir, build)


def _trigram_tfidf_sim(spark, sf_dir):
    """Session-cached wrapper over :func:`_build_trigram_tfidf_sim` —
    the pagerank and top-pairs queries both consume the full sim-pair
    table, so one materialization serves both in a shared session."""
    return _session_cached(
        "trigram_sim",
        spark,
        sf_dir,
        lambda: _build_trigram_tfidf_sim(spark, sf_dir).localCheckpoint(eager=True),
    )


def _postings_partitions(w: DataFrame) -> int:
    """Partition count for the trigram postings self-join: one per core
    or one per 256 MiB of plan-estimated postings, whichever is more,
    capped at 8 per core.  r14 (VERDICT r13 #3, guide §2.2): scale-
    adaptive instead of a fixed 64, which was 2x the core count at gate
    SF (A/B at sf0.1/local[32]: cold build 3.3-3.8 s @ 64 -> 2.4-2.7 s
    @ 32; the 64-task stages spent 4x their CPU in scheduling/wait).
    The cap exists because plan stats after ``localCheckpoint`` can
    report a join product (12 GB for a 3 MB result); unknown stats give
    one per core."""
    from tubes_spark.sink import Sink

    dp = w.sparkSession.sparkContext.defaultParallelism
    est = Sink.plan_bytes(w) or 0
    return min(8 * dp, max(dp, est // (256 << 20)))


def _build_trigram_tfidf_sim(spark, sf_dir):
    """Near-duplicate scoring via the INVERTED INDEX: docs as TF-IDF
    vectors over word 3-gram shingles, pairwise cosine computed by
    self-joining postings on the shared term — the sparse-similarity
    plan that never goes all-pairs.  Top-50 pairs by (rounded) cosine
    with a total deterministic order.

    Scale shape: posting lists are bounded by the df cutoff (terms in
    >5% of docs are dropped — they are stop-terms and would quadratically
    dominate the join); the pair aggregation shuffles on (doc_a, doc_b);
    the final top-50 is TakeOrderedAndProject, not a global sort."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar for idf; one lightweight count job
    d = _fan(d)  # parallelize the shingle explode (see _fan)
    toks = text.tokenize(F.col("text"))
    tf = (
        d.select(
            "doc_id", F.explode(text.word_shingles_from_tokens(toks, 3)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_keep = df_t.filter((F.col("df") <= F.lit(max(2, int(n_docs * 0.05)))) & (F.col("df") >= 2))
    # weights quantized to DECIMAL(18,6) so every downstream SUM is
    # exact and order-independent (partial aggregation reorders addends;
    # see the module float-discipline note)
    # the postings table feeds THREE consumers (norms, both join sides);
    # localCheckpoint pins it so the tokenize+explode+agg pipeline runs
    # once, not three times (same discipline as dedup's band table)
    w = (
        tf.join(df_keep, "term")
        .withColumn(
            "w",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).cast(
                "decimal(18,6)"
            ),
        )
        .localCheckpoint(eager=True)
    )
    # explicit term partitioning: the postings self-join's pair-event
    # stream (sum df^2 per term) is CPU-heavy relative to its byte
    # size, so AQE would coalesce it to ~3 tasks; an explicit count
    # keeps the decimal dot-products parallel (_postings_partitions)
    w = w.repartition(_postings_partitions(w), "term")
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    sim = dots.join(na, "doc_a").join(nb, "doc_b").select(
        "doc_a", "doc_b", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine")
    )
    return sim


def ngram_cosine_top_pairs(spark, sf_dir):
    """Top-50 pairs from the inverted-index trigram cosine pipeline
    (_trigram_tfidf_sim has the full plan + scale commentary); the
    final top-50 is TakeOrderedAndProject, not a global sort."""
    sim = _trigram_tfidf_sim(spark, sf_dir)
    return sim.orderBy(F.desc("cosine"), "doc_a", "doc_b").limit(50)


def closest_pair_levenshtein(spark, sf_dir):
    """Edit-distance near-dup: within each blocking bucket
    (lang, first token, length band of 64 chars) emit the single
    closest pair by levenshtein distance (ties broken by ids).
    Blocking is the scale story — candidate pairs exist only inside a
    bucket, never across the corpus, so the quadratic stays bounded by
    the bucket size; the per-bucket argmin is a partitioned window.
    Spark evaluates levenshtein JVM-side (no UDF); the same function
    exists verbatim in DuckDB for the oracle twin."""
    d = _t(spark, sf_dir, "documents")
    blocked = d.select(
        "doc_id",
        "lang",
        "text",
        F.element_at(text.tokenize(F.col("text")), 1).alias("tok1"),
        F.floor(F.col("n_chars") / 64).cast("long").alias("band"),
    )
    a = blocked.select(
        F.col("lang"), F.col("tok1"), F.col("band"),
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
    )
    b = blocked.select(
        F.col("lang"), F.col("tok1"), F.col("band"),
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
    )
    # explicit repartition(64) before scoring: the broadcast self-join
    # inherits the scan's file partitioning (ONE task on a single-file
    # table), and AQE would coalesce a bare keyed repartition back down
    # because the pair rows look tiny — it cannot see the O(len^2) DP
    # about to run on each.  Pinning the count parallelizes the
    # levenshtein evaluation (benched 6.8 s -> 1.1 s at sf0.1).
    pairs = (
        a.join(b, ["lang", "tok1", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .repartition(64, "lang", "tok1", "band")
    )
    # distance over the first 256 chars: the DP is O(len_a * len_b), so
    # capping the operand length bounds per-pair cost 4.7x below the
    # 553-char max while remaining a faithful near-dup signal at this
    # band granularity
    scored = pairs.select(
        "lang", "tok1", "band", "doc_a", "doc_b",
        F.levenshtein(
            F.substring("ta", 1, 256), F.substring("tb", 1, 256)
        ).cast("long").alias("lev"),
    )
    w = Window.partitionBy("lang", "tok1", "band").orderBy("lev", "doc_a", "doc_b")
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("lang", "tok1", "band", "doc_a", "doc_b", "lev")
    )


def contiguous_global_ids(spark, sf_dir):
    """Dense ids 0..N-1 in doc_id order WITHOUT the Exchange
    SinglePartition that row_number() OVER (ORDER BY ...) plans —
    layout.assign_contiguous_ids does the two-pass range-partition +
    per-partition rank + bounded offset table (see its docstring for
    the 100 TB argument).  The oracle is the naive global window, so
    the hash pass certifies the distributed form computes EXACTLY the
    single-node answer."""
    from tubes_spark.operators import layout

    d = _t(spark, sf_dir, "documents")
    out = layout.assign_contiguous_ids(d.select("doc_id"), "doc_id", n_parts=16)
    return out.select("doc_id", "global_id")


def shuffle_shards_manifest(spark, sf_dir):
    """Reproducible training-order shuffle: every document gets a
    (shard, position) from md5(doc_id:seed) — layout.shuffle_manifest.
    Position is ranked inside the shard only (partitioned window), so
    there is no global sort anywhere; re-running on different cluster
    shapes yields byte-identical shard files, which is the property
    training reproducibility actually needs."""
    from tubes_spark.operators import layout

    d = _t(spark, sf_dir, "documents")
    out = layout.shuffle_manifest(d.select("doc_id"), "doc_id", n_shards=8, seed="42")
    return out.select("doc_id", "shard", "pos")


def binned_interval_counts(spark, sf_dir):
    """Interval aggregation with NO equi-key: 64 overlapping 11.5-hour
    maintenance windows (deliberately NOT bin-aligned: offset by 17
    minutes) against the event stream, via joins.binned_range_join —
    intervals explode into 6-hour bins, events land in exactly one
    bin, the join is a plain hash join on the bin and the residual
    containment predicate does the exact check.  The naive form is a
    BroadcastNestedLoopJoin; this one survives both sides being huge.
    Returns per-window event count + value sum."""
    e = _t(spark, sf_dir, "events")
    iv = (
        spark.range(64)
        .select(
            F.col("id").alias("win_id"),
            (
                F.lit("2024-01-01").cast("timestamp")
                + F.make_interval(hours=F.col("id") * 6, mins=F.lit(17))
            ).alias("ws"),
        )
        .withColumn("we", F.col("ws") + F.make_interval(hours=F.lit(11), mins=F.lit(30)))
    )
    j = joins.binned_range_join(e, iv, "ts", "ws", "we", bin_seconds=21600)
    return (
        j.groupBy("win_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("sum_value"))
        .select("win_id", "n_events", "sum_value")
    )


def bpe_encode_corpus(spark, sf_dir):
    """The full tokenizer pipeline, end to end and ORACLE-GATED: train
    20 BPE merges on the corpus word vocabulary (bpe.bpe_train — the
    distributed iteration whose only driver traffic is the winning
    pair), then encode every document with the learned merges as one
    codegen'd replace chain (bpe.encode_doc_expr) and emit per-doc
    token count + an md5 digest of the encoded symbol stream.

    The DuckDB twin re-derives the SAME 20 merges by unrolling the
    training loop into materialized CTEs (identical pair statistics and
    (count desc, a, b) tie-break) and applies the same replace chain —
    so the driver hash pass certifies training AND encoding, not just
    plumbing.  Scale shape: training iterates on the collapsed (word,
    count) vocabulary only, and the training corpus is capped at
    20,000 md5-ordered docs (bpe_train's train_sample, VERDICT-r10 #6)
    — a pinned NO-OP at every gate SF (sf0.1 tops out at 5,000 docs,
    so the oracle's full-corpus training is bit-identical) that bounds
    the vocabulary's heavy tail at the 100x probe and beyond; encoding
    always runs over the full corpus as a per-row projection."""
    from tubes_spark.operators import bpe

    d = _t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(d, n_merges=20, train_sample=20_000)
    enc = bpe.encode_doc_expr(F.col("text"), merges)
    return d.select(
        "doc_id",
        bpe.token_count_from_encoded(enc).alias("n_bpe_tokens"),
        F.md5(enc).alias("enc_md5"),
    )


def ivf_assign_cells(spark, sf_dir):
    """IVF index MAINTENANCE: assign vectors to the nearest existing
    cell (per-label centroid) without retraining — how a deployed ANN
    index absorbs new embeddings between rebuilds.  The centroid table
    (n_cells x dim rows — KBs) broadcasts onto the positionally
    exploded vector stream; squared-L2 is accumulated in DECIMAL so the
    sum is exact and order-independent, making the argmin (dist, label)
    deterministic and oracle-checkable.  One broadcast join + one
    partial-aggregated shuffle on (vec_id, label) + one partitioned
    window: nothing scales with more than |vectors| * n_cells."""
    e = _t(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg((dsum(F.col("x").cast("double")) / F.count(F.lit(1))).alias("c"))
    )
    ex = e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
    sq = (F.col("x").cast("double") - F.col("c")) ** 2
    dists = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label")
        .agg(F.sum(sq.cast("decimal(27,12)")).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "label")
    return (
        dists.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            "vec_id",
            F.col("label").alias("cell"),
            F.round(F.col("d2").cast("double"), 6).alias("dist2"),
        )
    )


def curriculum_phases(spark, sf_dir):
    """Curriculum export: documents staged into 3 training phases by
    lexical-diversity score (distinct-token ratio) using exact tercile
    boundaries — easy (repetitive) text first, diverse text last.
    The boundaries are a single 2-value aggregate broadcast back onto
    the scan; no ntile, no global sort (the r4 funnel lesson: a global
    ntile plans Exchange SinglePartition).  At 100 TB swap the exact
    percentile for percentile_approx with the documented rank-error
    contract (percentile_approx_bound_check); exact is kept here so the
    phase assignment is oracle-checkable."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokenize(F.col("text"))
    scored = d.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("score"),
    )
    bounds = scored.agg(
        F.percentile(F.col("score"), F.lit(1.0 / 3)).alias("b1"),
        F.percentile(F.col("score"), F.lit(2.0 / 3)).alias("b2"),
    )
    j = scored.join(F.broadcast(bounds))
    phase = (
        F.when(F.col("score") <= F.col("b1"), 0)
        .when(F.col("score") <= F.col("b2"), 1)
        .otherwise(2)
    )
    return j.select(
        "doc_id", F.round(F.col("score"), 6).alias("score"), phase.cast("int").alias("phase")
    )


def cms_token_frequencies(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) under the FULL
    oracle gate, completing the sketch family (HLL distinct ✓,
    SpaceSaving top-k ✓, KLL-style quantiles ✓): d=4 rows x w=16
    buckets of counters over the token stream (w deliberately
    undersized vs the vocabulary so collisions actually occur), estimates read back as
    the row-wise minimum, checked per token against the exact count.
    The md5-arith universal hash family (dedup.arith_hash_family) is
    what makes every counter — and hence every estimate —
    reproducible in DuckDB.

    Emits the CMS hard guarantee as data: ``no_undercount`` must be
    true for every token (est >= exact, always), and ``overcount`` is
    the per-token bias the d x w sizing bounds in expectation.

    Scale shape: the sketch build is one partial-aggregated shuffle on
    (row, bucket) — at most d*w = 64 cells regardless of corpus
    size (production sizing would use w in the thousands; the
    mergeability argument is identical); that mergeability (cells add across partitions/days) is the
    whole point of CMS at 100 TB."""
    from tubes_spark.operators.dedup import ARITH_P, arith_hash_family, arith_shingle_hash

    # w=16 deliberately undersized for the ~31-token vocabulary so
    # collisions (hence visible overcounts) actually occur — the
    # guarantee being exercised is est >= exact UNDER collision
    D, W = 4, 16
    fam = arith_hash_family(D, seed=5)
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokenize(F.col("text"))).alias("tok"))
    x = arith_shingle_hash(F.col("tok"))
    buckets = F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            ((F.lit(a) * x + F.lit(b)) % ARITH_P % W).cast("int").alias("bucket"),
        )
        for i, (a, b) in enumerate(fam)
    ])
    cells = (
        toks.select(F.explode(buckets).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select("tok", "exact_n", F.explode(buckets).alias("rb"))
    est = (
        probes.join(
            F.broadcast(cells),
            (F.col("rb.row") == F.col("row")) & (F.col("rb.bucket") == F.col("bucket")),
        )
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("no_undercount"),
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    )


def bloom_decontaminate_check(spark, sf_dir):
    """Bloom-filter membership (k=3 hashes into m=16384 bits) as the
    scale form of eval-set decontamination: the exact distinct-shingle
    broadcast in decontaminate_ngram becomes an m/8-byte bit set when
    the eval suite outgrows a broadcast hash set.  Built here over the
    src0/src1 token vocabulary and probed with every corpus token;
    emits per token the exact membership, the bloom verdict, the hard
    ``no_false_negative`` guarantee (must be all-true — a member whose
    bits are not all set is a wrong answer), and the false-positive
    flag whose corpus rate the m/k sizing bounds.

    Scale shape: the bit set is at most m rows (bounded by the FILTER
    size, not the corpus); probing is a broadcast join + one grouped
    all-bits-present check per token."""
    from tubes_spark.operators.dedup import ARITH_P, arith_hash_family, arith_shingle_hash

    K, M = 3, 16384
    fam = arith_hash_family(K, seed=11)
    d = _t(spark, sf_dir, "documents")
    # membership over word TRIGRAMS: the unigram vocabulary is fully
    # shared across sources (no discrimination), while the src0/src1
    # trigram set is a strict subset of the corpus trigram space — so
    # both bloom verdicts and real false positives occur
    w = d.select("source", text.tokenize(F.col("text")).alias("w"))
    toks = w.select(
        "source", F.explode(text.word_shingles_from_tokens(F.col("w"), 3)).alias("tok")
    )
    x = arith_shingle_hash(F.col("tok"))
    bits = F.array(*[
        ((F.lit(a) * x + F.lit(b)) % ARITH_P % M).cast("int").alias(f"b{i}")
        for i, (a, b) in enumerate(fam)
    ])
    members = toks.filter(F.col("source").isin("src0", "src1")).select("tok").distinct()
    bloom_bits = (
        members.select(F.explode(bits).alias("bit")).distinct()
    )
    probe = toks.select("tok").distinct()
    probed = probe.select("tok", F.explode(bits).alias("bit")).join(
        F.broadcast(bloom_bits.withColumn("__set__", F.lit(1))), "bit", "left"
    )
    verdict = probed.groupBy("tok").agg(
        (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("__set__"), F.lit(0)))).alias("in_bloom")
    )
    exact = probe.join(
        members.withColumn("__m__", F.lit(1)), "tok", "left"
    ).select("tok", (F.col("__m__") == 1).alias("in_exact"))
    j = verdict.join(exact, "tok")
    return j.select(
        "tok",
        F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
        "in_bloom",
        (~F.coalesce("in_exact", F.lit(False)) | F.col("in_bloom")).alias("no_false_negative"),
        (F.col("in_bloom") & ~F.coalesce("in_exact", F.lit(False))).alias("false_positive"),
    )


def doc_centrality_pagerank(spark, sf_dir):
    """PageRank centrality over the document near-dup similarity graph
    (edges: trigram-cosine >= 0.05, undirected) — the curation move
    that picks the most REPRESENTATIVE member of each near-dup
    neighborhood rather than the lowest id.  Six power iterations with
    damping 0.85 over the subgraph of connected documents.

    Determinism across engines (the reason this is oracle-checkable at
    all): each iteration quantizes the outgoing contribution
    round(rank/deg, 12) -> DECIMAL(27,12) BEFORE the neighbor sum, so
    the aggregation is exact and order-independent; the damping blend
    is then plain IEEE double on identical inputs.  The DuckDB twin
    unrolls the same six iterations as materialized CTEs.

    Scale shape: rank state is one row per node; each iteration is one
    broadcast-or-shuffle join onto the edge list + one partial-
    aggregated shuffle on dst — the textbook distributed PageRank, with
    lineage cut every third iteration (localCheckpoint; depth-3 chains
    plan fine and halve the job count — see the loop comment)."""
    sim = _trigram_tfidf_sim(spark, sf_dir).filter(F.col("cosine") >= 0.05)
    edges = (
        sim.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(sim.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()  # bounded scalar: node count of the subgraph
    damping = 0.85
    base = (1.0 - damping) / n_nodes
    ranks = deg.select("src", "deg", F.lit(1.0 / n_nodes).alias("rank"))
    for i in range(6):
        contrib = (
            edges.join(ranks, "src")
            .select(
                F.col("dst"),
                F.round(F.col("rank") / F.col("deg"), 12)
                .cast("decimal(27,12)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("inflow"))
        )
        ranks = (
            deg.join(contrib, deg["src"] == contrib["dst"], "left")
            .select(
                "src",
                "deg",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))).alias("rank"),
            )
        )
        # r13 (optimization, guide §1.2): cut lineage every THIRD
        # iteration, not every iteration — each eager localCheckpoint
        # is its own job, and a 3-deep join+agg chain plans fine while
        # halving the job count (in-session A/B at sf0.1: 6.26 s at
        # every-1, 3.56 s at every-3, results bit-identical; the
        # exponential-lineage guard still holds at depth <= 3).
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("src").alias("doc_id"), "deg", F.round(F.col("rank"), 9).alias("rank")
    )


def streaming_left_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream join — the join semantic the streaming
    battery lacked: unmatched views must emit their null-padded row,
    which Structured Streaming only does once the watermark passes the
    row's join window (state eviction), unlike the inner join
    (streaming_interval_join) which emits on match.

    The subtlety this query pins down: with AvailableNow over a
    bounded replay, views near the end of the timeline would sit in
    state forever (the watermark never passes them) and the drained
    result would NOT equal the batch left join.  Two sentinel slices
    (user_id -1, Feb 10 / Feb 15 — far past the Jan data) are appended
    to BOTH streams so the global watermark finishes well beyond every
    real view's window: every unmatched view flushes, the sentinels
    themselves stay unflushed/unmatched by construction, and the
    drained output hash-matches the plain batch LEFT JOIN oracle with
    no cutoff carve-outs.

    Scale shape: both sides shuffle on user_id once; join state is
    watermark-bounded (8 days here — must exceed the replay slice
    disorder, and does: slices are time-ordered)."""
    import shutil
    import tempfile
    import uuid
    from datetime import datetime

    from tubes_spark.streaming.run import drain_to_df, file_replay_source, write_ordered_slices

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_loj_")
    # state-partition sizing: a stream-stream join keeps TWO keyed
    # state stores, each sharded into spark.sql.shuffle.partitions
    # tasks PER MICRO-BATCH — under a vanilla 200-partition session the
    # 4-trigger drain pays ~1200 stateful task launches for KBs of
    # state (measured 79 s -> ~15 s at 8 partitions).  Sizing state
    # partitions to the state volume is the standard streaming
    # deployment knob; restored in the finally so no other query sees
    # the setting.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # r14 partition re-sweep (guide §2.2/§5; stack-sampled forensics:
    # every state partition pays a serialized provider-registration
    # section per trigger — StateStore.getStateStoreProvider holds the
    # JVM-global loadedProviders lock around an askSync coordinator
    # RPC — so at 4 state rows the partition count IS the per-trigger
    # fixed cost).  Measured at sf0.1/local[32], in-session A/B:
    # 8 -> 6.4-7.3 s, 4 -> 5.2-6.0 s, 2 -> ~5.0 s for the full-outer
    # drain; pinned 4 (same regime streaming_late_data measured
    # 2.96 s @ 4 vs 6.82 s @ 16), env-overridable for real state.
    import os as _os

    _foj_parts = int(_os.environ.get("TUBES_SPARK_STREAM_PARTS", "0") or 0) or 4
    spark.conf.set("spark.sql.shuffle.partitions", str(_foj_parts))
    try:
        v_real = e.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("ts_v")
        )
        p_real = e.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), F.col("user_id").alias("user_id_p"),
            F.col("ts").alias("ts_p"), F.col("value").alias("purchase_value"),
        )
        sent_v = spark.createDataFrame(
            [(-1, -1, datetime(2024, 2, 10)), (-2, -1, datetime(2024, 2, 15))],
            "view_id long, user_id long, ts_v timestamp",
        )
        sent_p = spark.createDataFrame(
            [(-1, -1, datetime(2024, 2, 10), 0.0), (-2, -1, datetime(2024, 2, 15), 0.0)],
            "purchase_id long, user_id_p long, ts_p timestamp, purchase_value double",
        )
        # time-ordered contiguous slices tolerate ANY watermark delay
        # (slice k+1's min >= slice k's max), so two real slices keep
        # the cross-batch state exercise while saving trigger overhead
        wk = [F.lit("2024-01-16").cast("timestamp"),
              F.lit("2024-02-01").cast("timestamp"), F.lit("2024-02-12").cast("timestamp")]

        def slices(ts_col):
            return [
                F.col(ts_col) < wk[0],
                (F.col(ts_col) >= wk[0]) & (F.col(ts_col) < wk[1]),
                (F.col(ts_col) >= wk[1]) & (F.col(ts_col) < wk[2]),
                F.col(ts_col) >= wk[2],
            ]

        # r14 (guide §2.6): the two replay feeds are independent write
        # jobs — overlap them so the drain starts in the slower feed's
        # time, not the sum; and take the replay schema from the frames
        # just written (driver-side, no job) instead of re-reading a
        # parquet footer through a second file-listing relation.
        v_all, p_all = v_real.unionByName(sent_v), p_real.unionByName(sent_p)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fv = pool.submit(
                write_ordered_slices, v_all, slices("ts_v"), f"{tmp}/v"
            )
            fp_ = pool.submit(
                write_ordered_slices, p_all, slices("ts_p"), f"{tmp}/p"
            )
            fv.result(), fp_.result()
        v = file_replay_source(
            spark, f"{tmp}/v", v_all.schema, max_files_per_trigger=1
        ).withWatermark("ts_v", "8 days")
        p = file_replay_source(
            spark, f"{tmp}/p", p_all.schema, max_files_per_trigger=1
        ).withWatermark("ts_p", "8 days")
        # NOTE: no sentinel filter inside the streaming plan — a
        # user_id >= 0 predicate here gets pushed below the watermark
        # node to the scan, parquet row-group stats (min=max=-1) skip
        # the sentinel files entirely, and the watermark never advances
        # past the real data (debugged empirically: 0 input rows on the
        # sentinel triggers).  The sentinels cannot reach the output
        # anyway: their join windows never close before the final
        # watermark, so they stay in state; the post-drain filter is
        # only documentation of that contract.
        j = v.join(
            p,
            (F.col("user_id") == F.col("user_id_p"))
            & (F.col("ts_p") >= F.col("ts_v"))
            & (F.col("ts_p") <= F.col("ts_v") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        ).select(
            "view_id", "user_id", "purchase_id", "purchase_value",
            F.col("purchase_id").isNotNull().alias("matched"),
        )
        out = drain_to_df(j, f"stream_loj_{uuid.uuid4().hex[:8]}", output_mode="append")
        out = out.filter(F.col("user_id") >= 0).cache()
        out.count()  # pin rows before the input files are removed
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_full_outer_join(spark, sf_dir):
    """FULL OUTER stream-stream join — the last cell of the streaming
    join matrix (inner: streaming_interval_join; left-outer:
    streaming_left_outer_join).  Now BOTH sides' unmatched rows must
    flush when the watermark passes their join window: views with no
    purchase inside the hour AND purchases preceded by no view.

    Same sentinel watermark-flush technique as the left-outer query:
    two sentinel slices (user_id -1, Feb 10 / Feb 15 — far past the
    Jan data) appended to BOTH streams drive the final watermark well
    beyond every real row's window, so every unmatched row on either
    side leaves state and emits its null-padded row, and the drained
    output hash-matches the plain batch FULL OUTER JOIN with no
    cutoff carve-outs.  ``user_id`` is coalesced across sides so
    purchase-only rows keep their key (and the sentinel filter works).

    Scale shape: one user_id shuffle per side; TWO watermark-bounded
    state stores (8 days); state partitions sized to the drain like
    every stateful query here."""
    import shutil
    import tempfile
    import uuid
    from datetime import datetime

    from tubes_spark.streaming.run import drain_to_df, file_replay_source, write_ordered_slices

    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tubes_stream_foj_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # r14 partition re-sweep (guide §2.2/§5; stack-sampled forensics:
    # every state partition pays a serialized provider-registration
    # section per trigger — StateStore.getStateStoreProvider holds the
    # JVM-global loadedProviders lock around an askSync coordinator
    # RPC — so at 4 state rows the partition count IS the per-trigger
    # fixed cost).  Measured at sf0.1/local[32], in-session A/B:
    # 8 -> 6.4-7.3 s, 4 -> 5.2-6.0 s, 2 -> ~5.0 s for the full-outer
    # drain; pinned 4 (same regime streaming_late_data measured
    # 2.96 s @ 4 vs 6.82 s @ 16), env-overridable for real state.
    import os as _os

    _foj_parts = int(_os.environ.get("TUBES_SPARK_STREAM_PARTS", "0") or 0) or 4
    spark.conf.set("spark.sql.shuffle.partitions", str(_foj_parts))
    try:
        v_real = e.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("ts_v")
        )
        p_real = e.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), F.col("user_id").alias("user_id_p"),
            F.col("ts").alias("ts_p"), F.col("value").alias("purchase_value"),
        )
        sent_v = spark.createDataFrame(
            [(-1, -1, datetime(2024, 2, 10)), (-2, -1, datetime(2024, 2, 15))],
            "view_id long, user_id long, ts_v timestamp",
        )
        sent_p = spark.createDataFrame(
            [(-1, -1, datetime(2024, 2, 10), 0.0), (-2, -1, datetime(2024, 2, 15), 0.0)],
            "purchase_id long, user_id_p long, ts_p timestamp, purchase_value double",
        )
        wk = [F.lit("2024-01-16").cast("timestamp"),
              F.lit("2024-02-01").cast("timestamp"), F.lit("2024-02-12").cast("timestamp")]

        def slices(ts_col):
            return [
                F.col(ts_col) < wk[0],
                (F.col(ts_col) >= wk[0]) & (F.col(ts_col) < wk[1]),
                (F.col(ts_col) >= wk[1]) & (F.col(ts_col) < wk[2]),
                F.col(ts_col) >= wk[2],
            ]

        # r14 (guide §2.6): the two replay feeds are independent write
        # jobs — overlap them so the drain starts in the slower feed's
        # time, not the sum; and take the replay schema from the frames
        # just written (driver-side, no job) instead of re-reading a
        # parquet footer through a second file-listing relation.
        v_all, p_all = v_real.unionByName(sent_v), p_real.unionByName(sent_p)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fv = pool.submit(
                write_ordered_slices, v_all, slices("ts_v"), f"{tmp}/v"
            )
            fp_ = pool.submit(
                write_ordered_slices, p_all, slices("ts_p"), f"{tmp}/p"
            )
            fv.result(), fp_.result()
        v = file_replay_source(
            spark, f"{tmp}/v", v_all.schema, max_files_per_trigger=1
        ).withWatermark("ts_v", "8 days")
        p = file_replay_source(
            spark, f"{tmp}/p", p_all.schema, max_files_per_trigger=1
        ).withWatermark("ts_p", "8 days")
        # no sentinel filter inside the plan (pushdown would skip the
        # sentinel files at the scan and stall the watermark — see
        # streaming_left_outer_join); sentinels are filtered post-drain
        j = v.join(
            p,
            (F.col("user_id") == F.col("user_id_p"))
            & (F.col("ts_p") >= F.col("ts_v"))
            & (F.col("ts_p") <= F.col("ts_v") + F.expr("INTERVAL 1 HOUR")),
            "full_outer",
        ).select(
            "view_id",
            F.coalesce(F.col("user_id"), F.col("user_id_p")).alias("user_id"),
            "purchase_id", "purchase_value",
            (F.col("view_id").isNotNull() & F.col("purchase_id").isNotNull()).alias("matched"),
        )
        out = drain_to_df(j, f"stream_foj_{uuid.uuid4().hex[:8]}", output_mode="append")
        out = out.filter(F.col("user_id") >= 0).cache()
        out.count()  # pin rows before the input files are removed
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def jaccard_exact_prefix_join(spark, sf_dir):
    """EXACT set-similarity join with PPJoin-style prefix filtering
    (Xiao et al., WWW 2008) — the exact-verification complement to the
    MinHash tier: every emitted pair carries its TRUE Jaccard, and the
    prefix lemma guarantees no pair >= the threshold is missed.

    Plan: 5-gram shingle sets per doc; shingles ordered rarest-first by
    the global (frequency, shingle) total order; each doc exposes only
    its first n - floor(t*n) + 1 shingles (the safe long form of the
    prefix bound, identical across engines) as join keys.  Two docs
    with Jaccard >= t=0.8 MUST collide on at least one prefix shingle,
    so candidate generation is the rare-token posting join, never
    all-pairs; the exact intersection is then computed for candidate
    pairs only.

    Scale shape: prefix postings are ~20% of the shingle stream and
    skew-bounded (rarest-first ordering puts the heavy shingles LAST,
    outside prefixes); verification joins touch candidates only.  Per-
    doc ordering is a doc-partitioned window — no global rank table.

    Every join side here SCALES WITH THE CORPUS (shingle frequencies,
    doc sizes, candidate pairs), so each is pinned to a SORT-MERGE
    join: the r8 100x probe caught Catalyst auto-broadcasting the
    post-distinct candidate table off a stale size estimate (driver
    OOM at ~25M pairs), and a first shuffle-hash fix then blew the
    heap in the build maps once AQE coalesced partitions — SMJ is the
    only strategy whose memory is spill-bounded on every path, which
    is the property that survives a 100x corpus on fixed executors."""
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    # the shingle stream is reused 4x (freq, sizes, both verification
    # sides) — checkpoint it ONCE, but serialized with disk spill
    # (MEMORY_AND_DISK ser), not the default deserialized in-heap
    # blocks: at 100x the stream is tens of GB and deserialized
    # caching pins the heap that the SMJ sorts need (the r9 100x rerun
    # OOM'd exactly here on an 8g driver; serialized+spillable holds)
    from pyspark.storagelevel import StorageLevel

    s = d.select(
        "doc_id", F.explode(text.word_shingles_from_tokens(toks, 5)).alias("sh")
    ).distinct().localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    freq = s.groupBy("sh").agg(F.count(F.lit(1)).alias("fr"))
    sz = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ordered = s.join(freq.hint("merge"), "sh")
    w = Window.partitionBy("doc_id").orderBy("fr", "sh")
    ranked = ordered.withColumn("__r__", F.row_number().over(w)).join(
        sz.hint("merge"), "doc_id"
    )
    prefix_len = (F.col("n") - F.floor(F.lit(0.8) * F.col("n")) + 1).cast("int")
    pre = ranked.filter(F.col("__r__") <= prefix_len).select("doc_id", "sh", "__r__", "n")
    # PPJoin pruning (Xiao et al. WWW'08 — VERDICT-r9 #5), both layers
    # provably lossless so the independently-computed oracle is
    # untouched:
    #  * LENGTH filter: J >= 0.8 forces 4*na <= 5*nb and 4*nb <= 5*na
    #    (integer-exact, no float threshold).
    #  * POSITIONAL filter: a common prefix shingle at ranks (ra, rb)
    #    bounds the overlap at min(ra,rb)-1 common elements strictly
    #    before it + itself + min(na-ra, nb-rb) after; a qualifying pair
    #    needs overlap >= alpha = ceil(4*(na+nb)/9) (J>=t <=> i >=
    #    t/(1+t)*(na+nb)), and the bound holds for EVERY common prefix
    #    shingle — so ONE witness with ub < alpha refutes the pair:
    #    the dedup aggregation keeps min(ub) and drops refuted pairs.
    #
    # Honesty note (x100 probe, r10): on the uniform-99-replica synth
    # every candidate IS a true near-dup, so these filters prune ~0.003%
    # there (27,301,300 -> 27,300,500) — their value is the diverse/
    # adversarial corpus where prefix collisions pair dissimilar-length
    # or low-overlap docs; the hard cost bound on THIS synth remains
    # the spill-bounded SMJ plan underneath.
    ub = (
        F.least(F.col("a.__r__"), F.col("b.__r__"))
        + F.least(F.col("a.n") - F.col("a.__r__"), F.col("b.n") - F.col("b.__r__"))
    ).cast("long")
    alpha = F.ceil((F.col("a.n") + F.col("b.n")) * 4 / 9).cast("long")
    cand = (
        pre.alias("a")
        .join(pre.alias("b").hint("merge"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (4 * F.col("a.n") <= 5 * F.col("b.n"))
            & (4 * F.col("b.n") <= 5 * F.col("a.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ub.alias("__ub__"),
            alpha.alias("__alpha__"),
        )
        .groupBy("doc_a", "doc_b", "__alpha__")
        .agg(F.min("__ub__").alias("__mu__"))
        .filter(F.col("__mu__") >= F.col("__alpha__"))
        .select("doc_a", "doc_b")
        .hint("merge")
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = s.select(F.col("doc_id").alias("doc_b"), "sh")
    # candidate x corpus verification: both sides scale — sort-merge,
    # never a broadcast decided off an intermediate's estimate
    inter = (
        cand.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        inter.join(na.hint("merge"), "doc_a")
        .join(nb.hint("merge"), "doc_b")
        .withColumn("u", (F.col("na") + F.col("nb") - F.col("i")).cast("long"))
        .withColumn("jaccard", F.round(F.col("i") / F.col("u"), 6))
        .filter(F.col("jaccard") >= 0.8)
    )
    return out.select("doc_a", "doc_b", F.col("i").cast("long").alias("inter"), "u", "jaccard")


def funnel_3step_batch(spark, sf_dir):
    """Batch 3-step pattern match (view -> click -> purchase, strictly
    ordered, purchase within 6 hours of the view): the batch twin of the
    streaming funnel's 2-step state machine, extended one stage — the
    MATCH_RECOGNIZE-shaped query every product-analytics stack runs.
    Emits each user's EARLIEST completed funnel with the stage event
    ids and the total conversion time in microseconds (integer-exact).

    Scale shape: two equi-joins on user_id carry the time-range
    predicates (hash joins, never nested loops — same carrier trick as
    interval_join_views_purchases); candidate triples are bounded by
    events-per-user within the hour; the per-user earliest pick is a
    partitioned window."""
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("ts_v")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("ts_c")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("ts_p")
    )
    vc = v.join(c, "user_id").filter(
        (F.col("ts_c") > F.col("ts_v"))
        & (F.col("ts_c") < F.col("ts_v") + F.expr("INTERVAL 6 HOUR"))
    )
    vcp = vc.join(p, "user_id").filter(
        (F.col("ts_p") > F.col("ts_c"))
        & (F.col("ts_p") <= F.col("ts_v") + F.expr("INTERVAL 6 HOUR"))
    )
    w = Window.partitionBy("user_id").orderBy(
        "ts_v", "view_id", "ts_c", "click_id", "ts_p", "purchase_id"
    )
    return (
        vcp.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            "user_id", "view_id", "click_id", "purchase_id",
            (F.unix_micros(F.col("ts_p")) - F.unix_micros(F.col("ts_v"))).alias("micros_to_convert"),
        )
    )

# --------------------------------------------------------------------------
# Round-5c: relational-surface completers (pivot/cube/window/set-ops) and
# further curation depth.  Reference scope: these generalize the grouped
# fold family (Tubes/Source.hs:167-174 reduce) the same way the TPC-H
# battery does — multi-key grouped folds with richer key lattices.
# --------------------------------------------------------------------------

def pivot_priority_by_year(spark, sf_dir):
    """PIVOT (long -> wide reshape): order counts per year x priority,
    one column per priority class — the reshape every BI layer runs.
    The pivot value list is pinned explicitly so the plan is a single
    partial-aggregated shuffle on the year key (no extra distinct pass
    to discover pivot values, which at 100 TB is a full second scan).

    Scale shape: groupBy(year).pivot(values=...) compiles to one
    hash aggregate with 5 conditional counts — identical cost to the
    flagship's grouped fold; output is 7 rows."""
    o = _t(spark, sf_dir, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        o.withColumn("yr", F.year("o_orderdate").cast("long"))
        .groupBy("yr")
        .pivot("o_orderpriority", pris)
        .agg(F.count(F.lit(1)))
    )
    names = ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"]
    return wide.select(
        "yr",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(n)
            for p, n in zip(pris, names)
        ],
    )


def cube_pricing_lattice(spark, sf_dir):
    """CUBE: the full 2^2 grouping lattice over (returnflag, linestatus)
    in ONE pass — grand total, both marginals, and the cross cells, each
    row tagged with its grouping_id so NULL-as-subtotal is distinguishable
    from NULL-in-data.  Extends grouping_sets_priority_flag to the full
    lattice.

    Scale shape: Spark expands CUBE to a single Expand + hash aggregate
    (rows x 4 grouping projections, partial-aggregated map-side), so the
    shuffle carries only the 4x|groups| partial cells, never the data."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            dsum(disc).alias("sum_disc_price"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def window_funcs_battery(spark, sf_dir):
    """The analytic-window surface in one query: lag/lead (neighbor
    shift), ntile (equal-height quartiles), percent_rank / cume_dist
    (relative position), and frame-pinned nth_value/first/last over the
    per-customer order history.  nth_value's frame is explicitly
    UNBOUNDED..UNBOUNDED on BOTH engines — default frames differ across
    engines, the classic silent-mismatch trap.

    Scale shape: one shuffle on o_custkey serves every function (all
    windows share the partition key + sort); no global sort anywhere."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_totalprice", 2).over(wall).alias("second_price"),
        F.first("o_totalprice").over(wall).alias("first_price"),
        F.last("o_totalprice").over(wall).alias("last_price"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("days_since_prev"),
    )


def setops_buyer_cohorts(spark, sf_dir):
    """Set algebra over user cohorts: buyers active in BOTH halves of the
    month (INTERSECT -> retained), first-half-only (EXCEPT -> churned),
    second-half-only (EXCEPT -> new) — the reference's mappend/empty
    Alternative algebra (Tubes/Source.hs:118) extended to the full
    set-op surface Spark exposes.

    Scale shape: each distinct is one partial-aggregated shuffle on
    user_id; intersect/except compile to aggregate + hash joins on the
    same key, and AQE picks broadcast sides when a cohort is small."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cut = F.lit("2024-01-16").cast("timestamp")
    a = e.filter(F.col("ts") < cut).select("user_id").distinct()
    b = e.filter(F.col("ts") >= cut).select("user_id").distinct()
    return (
        a.intersect(b).withColumn("cohort", F.lit("retained"))
        .unionAll(a.subtract(b).withColumn("cohort", F.lit("churned")))
        .unionAll(b.subtract(a).withColumn("cohort", F.lit("new")))
    )


def anomaly_daily_spikes(spark, sf_dir):
    """Per-user daily-volume anomaly screen: a user-day whose summed
    value exceeds 3x that user's mean daily value is a spike — the
    exactness-safe form of z-scoring (decimal-exact sums and one IEEE
    division make the flag bit-identical across engines, where a
    stddev-based score would hash-drift on summation order).

    Scale shape: one shuffle to (user, day) partial-aggregated cells,
    then a window over user only — cells per user are tiny (<=31)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(dsum(F.col("value")).alias("day_value"))
    )
    w = Window.partitionBy("user_id")
    mean_day = (
        F.sum(F.col("day_value").cast("decimal(27,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return daily.select(
        "user_id",
        F.col("day").cast("date").alias("day"),
        "day_value",
        F.round(mean_day, 6).alias("mean_day_value"),
        (F.col("day_value") > 3 * mean_day).alias("spike"),
    )


def inverted_index_postings(spark, sf_dir):
    """Inverted-index construction: term -> (document frequency, total
    term frequency, sorted posting list) — the retrieval-side primitive
    of every search/RAG stack.  Postings are emitted as a joined string
    so the cross-engine hash covers the full list content.

    Scale shape: one explode + (term, doc) partial count, one shuffle to
    the term key for df/tf/postings.  At 100 TB postings become delta-
    encoded int arrays bucketed by term-hash range (the string join here
    is the oracle-comparable form); the vocabulary key-space is Zipfian
    but partial aggregation absorbs the head before the shuffle."""
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    tf = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


def split_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split on a shared md5 hash
    (reproducible across engines AND across reruns — never rand()), with
    per-split accounting: doc count, token sum, char sum.  The split
    assignment every dataset release needs to be able to re-derive.

    Scale shape: pure per-row projection + one 3-group aggregate; the
    md5 bucket is uniform so splits are balanced without a shuffle."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), text.token_count(F.col("text")).alias("n_toks"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_toks").cast("long")).alias("sum_toks"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


def retention_cohorts_weekly(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity week,
    counted per subsequent activity week offset — the canonical product-
    analytics rollup (and the batch twin of the streaming funnel's
    cross-batch user state).

    Scale shape: first-week is one min-aggregate shuffle on user_id; the
    activity join stays on the same key (AQE broadcasts the cohort side
    when small); the final (cohort, offset) aggregate is tiny."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("act_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def pii_redaction_scrub(spark, sf_dir):
    """PII scrubbing: email / phone / IP detection and redaction with
    per-doc counts — the compliance pass every pretraining corpus runs
    before release.  The corpus is word-soup, so each doc is prefixed
    with a deterministic doc_id-derived contact line (same derivation in
    the oracle) so the redaction paths are actually exercised; patterns
    are kept to the Java-regex/RE2 common subset so both engines see
    identical semantics.

    Scale shape: pure per-row JVM regexp projection — no UDF, no
    shuffle; at 100 TB this is the textbook map-only pass."""
    d = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com phone 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 "),
        F.col("text"),
    )
    email = r"[a-z0-9._]+@[a-z0-9.-]+"
    phone = r"\b555-[0-9]{4}\b"
    ip = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    d = d.select("doc_id", synth.alias("raw"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), email, "<EMAIL>"), phone, "<PHONE>"
        ),
        ip,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(email), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(phone), F.lit(0))).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(ip), F.lit(0))).cast("long").alias("n_ips"),
        F.length(red).cast("long").alias("redacted_len"),
        F.substring(red, 1, 80).alias("redacted_head"),
    )


def url_domain_blocklist(spark, sf_dir):
    """URL parsing + domain blocklist filter: derive each doc's source
    URL (deterministic doc_id derivation, mirrored in the oracle),
    extract the registrable domain by regex, and flag docs whose domain
    is on a blocklist dim — the Common-Crawl-style URL filter.

    Scale shape: the blocklist is broadcast (real blocklists are MBs
    against a PB corpus); domain extraction is a per-row JVM regexp; no
    shuffle beyond the broadcast hash join."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    dom = F.regexp_extract(url, r"https?://([^/]+)/", 1)
    blocked = [f"src{i}-{j}.example.com" for i in (3, 7, 11) for j in (0, 13, 26, 39)]
    bl = spark.createDataFrame([(b,) for b in blocked], "domain string").withColumn(
        "__blocked__", F.lit(True)
    )
    return (
        d.select("doc_id", url.alias("url"), dom.alias("domain"))
        .join(F.broadcast(bl), "domain", "left")
        .select(
            "doc_id",
            "url",
            "domain",
            F.coalesce(F.col("__blocked__"), F.lit(False)).alias("blocked"),
        )
    )


def span_scrub_exact_substrings(spark, sf_dir):
    """ExactSubstr-style span scrubbing (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any 5-token span that
    recurs in >=3 DISTINCT documents is template text; every token
    covered by such a span is REMOVED and the document reassembled from
    the survivors — the transformation twin of boilerplate_shingle_flags
    (which only flags).  Emits exact accounting plus md5 of the cleaned
    text so the hash gate covers full reconstructed content.

    Scale shape: shingle df is one partial-aggregated shuffle; the
    boiler set joins back broadcast (template spans are a tiny head);
    covered-position expansion is explode(sequence(s, s+4)) — bounded
    5x the matched spans, not the corpus; reassembly is one shuffle to
    doc_id with an in-group sort.  All corpus docs have >=10 tokens so
    the short-doc degenerate (whole-doc single shingle) never fires;
    production would pre-filter n<k."""
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).localCheckpoint(eager=True)
    # sh feeds BOTH the df pass and the coverage join: checkpoint it so
    # the shingle codegen (the expensive projection) runs once
    sh = base.select(
        "doc_id", F.posexplode(text.word_shingles_from_tokens(F.col("toks"), 5))
    ).withColumnsRenamed({"pos": "start", "col": "sh"}).localCheckpoint(eager=True)
    boiler = (
        sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 3)
        .select("sh")
    )
    covered = (
        sh.join(F.broadcast(boiler), "sh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + 4)).alias("pos"),
        )
        .distinct()
    )
    tok_pos = base.select("doc_id", F.posexplode("toks")).withColumnsRenamed(
        {"pos": "pos", "col": "tok"}
    )
    kept = tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    n_toks = base.select("doc_id", F.size("toks").cast("long").alias("n_toks"))
    return (
        n_toks.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_toks") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_removed"),
            F.md5(F.coalesce(F.col("cleaned"), F.lit(""))).alias("cleaned_md5"),
        )
    )


def phrase_search_positions(spark, sf_dir):
    """Positional-index phrase search: every occurrence of the 3-token
    phrase "the fast query" located by joining token positions (term at
    p, p+1, p+2) — the retrieval primitive on top of
    inverted_index_postings.  The oracle finds the same occurrences by
    the shingle route, so parity cross-checks two different algorithms.

    Scale shape: each term's postings are filtered BEFORE the position
    joins (three narrow selective scans of the positional index), and
    the p/p+1/p+2 equi-joins are on (doc_id, pos) — never a string scan
    of the corpus."""
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    tp = d.select("doc_id", F.posexplode(toks)).withColumnsRenamed(
        {"pos": "pos", "col": "tok"}
    ).localCheckpoint(eager=True)
    w1, w2, w3 = "the", "fast", "query"
    t1 = tp.filter(F.col("tok") == w1).select("doc_id", "pos")
    t2 = tp.filter(F.col("tok") == w2).select("doc_id", F.col("pos").alias("p2"))
    t3 = tp.filter(F.col("tok") == w3).select("doc_id", F.col("pos").alias("p3"))
    return (
        t1.join(t2, "doc_id").filter(F.col("p2") == F.col("pos") + 1)
        .join(t3, "doc_id").filter(F.col("p3") == F.col("pos") + 2)
        .select("doc_id", F.col("pos").cast("long").alias("match_pos"))
    )


def graph_triangle_rare_shingles(spark, sf_dir):
    """Triangle counting over the rare-shingle co-occurrence graph: an
    edge links two docs sharing a df=2 5-gram (the sparse near-dup
    candidate graph), and each node's triangle membership count is the
    classic clustering signal — third graph op after connected
    components and PageRank, same edge-derivation family.

    Scale shape: node-iterator with ordered edges (a<b<c): two hash
    joins on the edge list, each bounded by the sparse df=2 edge set;
    the heavy-hitter guard is structural (df=2 means each shingle emits
    exactly ONE pair — no quadratic bucket); the edge list itself is
    session-shared with the BFS query (_rare_shingle_pairs)."""
    edges = _rare_shingle_pairs(spark, sf_dir)
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def repetition_signals(spark, sf_dir):
    """Within-document repetition metrics (the Gopher repetition table:
    Rae et al. 2021 §A1.2): fraction of the doc occupied by its single
    most frequent bigram, and the fraction of trigram positions whose
    trigram repeats within the same doc — the screens that catch
    keyword-stuffed and template-generated text that cross-doc dedup
    misses.

    Scale shape: two explode + (doc, gram) partial-count shuffles keyed
    by doc_id; grams never leave their doc group, so the key-space is
    doc-bounded (no global Zipf head)."""
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).localCheckpoint(eager=True)
    bi = base.select(
        "doc_id", F.explode(text.word_shingles_from_tokens(F.col("toks"), 2)).alias("g")
    )
    tri = base.select(
        "doc_id", F.explode(text.word_shingles_from_tokens(F.col("toks"), 3)).alias("g")
    )
    bi_cnt = bi.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    bi_stats = bi_cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_bi"), F.sum("c").cast("long").alias("n_bi")
    )
    tri_cnt = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tri_stats = tri_cnt.groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).cast("long").alias("dup_tri"),
        F.sum("c").cast("long").alias("n_tri"),
    )
    return (
        bi_stats.join(tri_stats, "doc_id")
        .select(
            "doc_id",
            F.col("top_bi").cast("long").alias("top_bigram_count"),
            "n_bi",
            F.round(F.col("top_bi") / F.col("n_bi"), 6).alias("top_bigram_frac"),
            "dup_tri",
            "n_tri",
            F.round(F.col("dup_tri") / F.col("n_tri"), 6).alias("dup_trigram_frac"),
            (
                (F.col("top_bi") / F.col("n_bi") > 0.18)
                | (F.col("dup_tri") / F.col("n_tri") > 0.30)
            ).alias("flag_repetitive"),
        )
    )


def orc_format_roundtrip(spark, sf_dir):
    """Columnar-format IO surface beyond parquet: the corpus
    round-trips through an ORC sink/source (zlib, explicit read schema
    — inference drifts across engines) and is reconciled row-by-row
    against the parquet original; ``n_identical == n_docs`` per lang IS
    the oracle-gated fidelity claim, since the oracle computes the same
    accounting straight off the parquet table (a lost row, mangled
    string, or width-changed integer breaks the value hash).

    Scale shape: encode/decode is per-row JVM work scaling with
    executors; the reconcile join keys on the unique doc_id; the tmp
    write is harness scaffolding (a production export sizes ~1 GB files
    with the same repartition knob).  ORC matters operationally: it is
    the other zone-map columnar format a 100 TB lake commonly holds,
    and Spark's reader/writer are built in — no extra package."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="orc_io_")
    try:
        d = _t(spark, sf_dir, "documents")
        d.repartition(4).write.mode("overwrite").option(
            "compression", "zlib"
        ).orc(f"{tmp}/orc")
        schema = "doc_id long, text string, lang string, source string, n_chars long"
        o = spark.read.schema(schema).orc(f"{tmp}/orc")
        joined = o.alias("o").join(d.alias("p"), "doc_id")
        res = (
            joined.groupBy(F.col("o.lang").alias("lang"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("o.n_chars")).cast("long").alias("sum_chars"),
                F.sum(
                    F.when(
                        (F.col("o.text") == F.col("p.text"))
                        & (F.col("o.source") == F.col("p.source"))
                        & (F.col("o.lang") == F.col("p.lang")),
                        1,
                    ).otherwise(0)
                ).cast("long").alias("n_identical"),
            )
        )
        res = res.cache()
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def text_formats_roundtrip(spark, sf_dir):
    """Text-format IO surface: the corpus round-trips through JSONL and
    CSV sinks/sources (explicit read schemas — never inference, which
    drifts across engines and corpus samples) and the two read-backs are
    reconciled field-by-field; per-lang accounting proves no row or
    field was lost or mangled by either codec path.

    Scale shape: format encode/decode is per-row JVM work scaling with
    executors; the reconcile join keys on doc_id (uniform) and the
    write here is repartitioned to a bounded file count — a production
    export sizes files to ~1 GB via the same knob.  The tmp write is
    harness scaffolding; a real pipeline reads its lake directly."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="fmt_io_")
    try:
        d = _t(spark, sf_dir, "documents")
        d.repartition(4).write.mode("overwrite").json(f"{tmp}/jsonl")
        d.repartition(4).write.mode("overwrite").option("header", True).csv(
            f"{tmp}/csv"
        )
        schema = "doc_id long, text string, lang string, source string, n_chars long"
        j = spark.read.schema(schema).json(f"{tmp}/jsonl")
        c = spark.read.schema(schema).option("header", True).csv(f"{tmp}/csv")
        joined = j.alias("j").join(c.alias("c"), "doc_id")
        res = (
            joined.groupBy(F.col("j.lang").alias("lang"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("j.n_chars")).cast("long").alias("sum_chars"),
                F.sum(
                    F.when(
                        (F.col("j.text") == F.col("c.text"))
                        & (F.col("j.source") == F.col("c.source")),
                        1,
                    ).otherwise(0)
                ).cast("long").alias("n_identical"),
            )
        )
        res = res.cache()
        res.count()  # pin rows before tmp cleanup
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def minhash_estimate_error(spark, sf_dir):
    """MinHash accuracy contract, oracle-gated per pair: for every LSH
    candidate pair, the signature-agreement estimate (matching minima /
    16) is emitted NEXT TO the exact Jaccard it estimates, plus the
    absolute error — the verification query that tells an operator what
    the sketch is actually worth on their corpus (test_round5c pins the
    mean error to the O(1/sqrt(k)) regime).

    Scale shape: signatures are one map-side-combined 16-min aggregate;
    candidates come from the banded self-join (never all-pairs); the
    exact-Jaccard verify joins shingle sets for candidates only — the
    same candidate-bounded pattern as jaccard_exact_prefix_join."""
    d = _t(spark, sf_dir, "documents")
    fam = dedup.arith_hash_family(16)
    toks = d.select(
        "doc_id", F.split(text.normalize(F.col("text")), " ").alias("toks")
    ).repartition(32, "doc_id")
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.word_shingles_from_tokens(F.col("toks"), 3))
        ).alias("sh"),
    ).localCheckpoint(eager=True)
    ex = sh.select("doc_id", dedup.arith_shingle_hash(F.col("sh")).alias("x"))
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(dedup.ARITH_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(fam)
        ]
    ).localCheckpoint(eager=True)
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(bnd),
                        F.col(f"m{2 * bnd}").cast("string"),
                        F.col(f"m{2 * bnd + 1}").cast("string"),
                    )
                    for bnd in range(8)
                ]
            )
        ).alias("bk"),
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), "bk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ma = mins.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(16)])
    mb = mins.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(16)])
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(16)
    )
    est = cand.join(ma, "doc_a").join(mb, "doc_b").select(
        "doc_a", "doc_b", (agree / F.lit(16.0)).alias("est_jaccard")
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    nsz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sa, "doc_a").join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    out = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(nsz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(nsz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn("i", F.coalesce(F.col("i"), F.lit(0)))
        .withColumn(
            "true_jaccard",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6),
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        "true_jaccard",
        F.round(F.abs(F.round("est_jaccard", 6) - F.col("true_jaccard")), 6).alias("abs_err"),
    )


def asof_next_event(spark, sf_dir):
    """FORWARD as-of join: for each purchase, the next view strictly
    after it (row-frame min over the user's future views), kept when
    within one hour — completes the as-of surface (asof_purchase is the
    backward direction).  Expressed as a conditional min over an
    explicit FOLLOWING frame instead of a join: one shuffle on user_id,
    no self-join, and ties resolve by the pinned (ts, event_id) sort on
    both engines.

    Scale shape: identical to every keyed-window query — events
    shuffle once to user_id; the frame scan is in-partition."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    # gap MUST reference the materialized nv column: re-stating the
    # window expression after the purchase filter would re-run the min
    # over purchases only (no views left in frame -> all NULL)
    gap = F.unix_micros(F.col("nv")) - F.unix_micros(F.col("ts"))
    return (
        e.withColumn("nv", next_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.when(gap <= 3_600_000_000, F.col("nv")).alias("next_view_ts"),
            F.when(gap <= 3_600_000_000, gap).alias("micros_to_next_view"),
        )
    )


def graph_bfs_hops(spark, sf_dir):
    """BFS shortest-hop distances (<=3 hops) from a seed set over the
    rare-shingle near-dup graph — the fourth graph primitive (after
    connected components, PageRank, triangles), the "how close is this
    doc to a known-bad seed" contamination query.  Checked against a
    DuckDB recursive-CTE ground truth.

    Scale shape: classic frontier BFS — each hop is ONE join of the
    (shrinking) frontier against the edge list plus an anti-join on the
    visited set; lineage is truncated per hop (localCheckpoint) exactly
    like the label-propagation loop in operators/dedup.py.  The edge
    list is session-shared with the triangle query
    (_rare_shingle_pairs)."""
    d = _t(spark, sf_dir, "documents")
    ed = _rare_shingle_pairs(spark, sf_dir)
    und = ed.unionByName(
        ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    seeds = (
        d.select("doc_id").filter(F.col("doc_id") % 100 == 0).distinct()
        .withColumn("dist", F.lit(0))
    )
    visited = seeds.localCheckpoint(eager=True)
    frontier = visited.select("doc_id")
    for hop in (1, 2, 3):
        nxt = (
            frontier.join(und, frontier.doc_id == und.u)
            .select(F.col("v").alias("doc_id"))
            .distinct()
            .join(visited.select("doc_id"), "doc_id", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("doc_id")
    return visited.select("doc_id", F.col("dist").cast("long").alias("dist"))


def bm25_search_scores(spark, sf_dir):
    """BM25 ranking (Robertson et al.; the Lucene-form idf) for a fixed
    3-term query over the corpus — the retrieval scorer on top of
    inverted_index_postings.  Every doc containing >=1 query term is
    emitted with its score (no top-k cut: selection by a rounded float
    would be the one cross-engine instability, so ranking is left to
    the caller's ORDER BY score, doc_id).  Per-term score components
    are rounded to 6dp and decimal-summed so the doc score is
    order-independent — the same float discipline as every dsum.

    Scale shape: the term postings are filtered BEFORE any join (3
    selective index probes); corpus stats (N, avgdl) are a 1-row
    broadcast; df comes from a 3-row aggregate.  Nothing touches
    non-matching docs."""
    QUERY_TERMS = ["table", "merge", "window"]
    k1, b = 1.2, 0.75
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).localCheckpoint(eager=True)
    dl = base.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn("avgdl", F.col("sum_dl") / F.col("n_docs"))
        .withColumn(
            "comp",
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
                6,
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum(F.col("comp").cast("decimal(27,6)")).cast("double").alias("bm25"),
        )
    )


def markov_event_transitions(spark, sf_dir):
    """First-order behavioral Markov model: the event-type transition
    matrix over each user's time-ordered stream — counts and row-
    normalized probabilities for every (from, to) pair.  The classic
    product-analytics "what happens after X" rollup and the statistical
    complement of the funnel queries (which test one specific path).

    Scale shape: one shuffle on user_id for the lead() pairing, then a
    25-cell aggregate; probabilities come from a window over from_type
    (25 rows — trivial)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wf), 6).alias("p"),
    )


def near_dup_cluster_stats(spark, sf_dir):
    """Dedup-cluster audit: the size distribution of the exact-Jaccard
    connected components (how much of the corpus sits in 2-doc pairs vs
    larger duplicate families) plus the implied removable-doc count —
    the rollup a curation team reads before choosing a survivor policy.
    Same verified component labels (and the same sweep-tractability
    doc_id cap) as connected_components_jaccard; the oracle composes
    that query's SQL and aggregates it.

    Scale shape: two tiny aggregates over the component labels — the
    cost is the upstream CC pipeline, already plan-audited."""
    comp = connected_components_jaccard(spark, sf_dir)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
        )
    )


def stats_corr_regression(spark, sf_dir):
    """Correlation / least-squares battery per group, built from EXACT
    decimal moments instead of the built-in corr()/regr_*() aggregates:
    sum(x), sum(y), sum(x*y), sum(x^2), sum(y^2) all accumulate as
    DECIMAL(27,6) (order-independent), and Pearson r / OLS slope +
    intercept come out as one deterministic IEEE expression each —
    the float-discipline answer to "moment aggregates don't hash-match
    across engines".  The feature-screening query of every modeling
    pipeline (here: does discount predict quantity, per return flag).

    Scale shape: one partial-aggregated shuffle to 6 groups; the moment
    algebra is constant work per group."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_quantity")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(F.round(x * y, 6)).alias("sxy"),
        dsum(F.round(x * x, 6)).alias("sxx"),
        dsum(F.round(y * y, 6)).alias("syy"),
    )
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"),
        F.round(cov / vx, 6).alias("ols_slope"),
        F.round(F.col("sy") / n - (cov / vx) * (F.col("sx") / n), 6).alias(
            "ols_intercept"
        ),
    )


def schema_evolution_union(spark, sf_dir):
    """Schema-evolution union: two generations of the same feed — an
    old extract lacking a column and a new extract with it — combine
    via unionByName(allowMissingColumns) with explicit defaults, then
    roll up per generation.  The everyday lake problem of reading
    across a schema migration without rewriting history.

    Scale shape: a by-name union is a zero-shuffle plan concatenation;
    the default fill is a per-row projection on the legacy branch."""
    o = _t(spark, sf_dir, "orders")
    old_gen = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_gen = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    merged = old_gen.unionByName(new_gen, allowMissingColumns=True).withColumn(
        "o_orderpriority", F.coalesce(F.col("o_orderpriority"), F.lit("UNKNOWN"))
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


def langid_confusion_matrix(spark, sf_dir):
    """Language-ID QA: the confusion matrix of declared label vs the
    n-gram detector's prediction, with per-declared-language recall —
    the accuracy audit every langid pre-filter needs before it gates a
    corpus.  On THIS corpus it surfaces a real data finding: the text
    is English-vocab word soup for every declared lang, so the matrix
    shows en/und predictions across all five labels — declared lang is
    metadata-only, exactly the mismatch this audit exists to catch
    before a langid gate silently drops 80% of a corpus.

    Scale shape: the detector is a per-row JVM projection; the matrix
    is a <=25-cell aggregate with a 5-row window for recall."""
    d = _t(spark, sf_dir, "documents")
    pred = d.select("lang", text.lang_id(F.col("text")).alias("lang_pred"))
    m = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return m.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("frac_of_declared"),
        (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
    )


def winsorize_event_values(spark, sf_dir):
    """Winsorization (outlier clipping) of event values at the exact
    per-type P01/P99 — the robust-scaling step run before any numeric
    column feeds a training pipeline.  Bounds use exact interpolated
    percentiles (the same cross-engine-stable machinery
    quantiles_by_priority gates) and are rounded to 6dp so the clip
    decision is bit-identical in both engines.

    Scale shape: one per-type percentile aggregate (5 rows) broadcast
    back onto the stream; the clip is a per-row projection."""
    e = _t(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.01)"), 6).alias("lo"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("hi"),
    )
    return (
        e.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "lo",
            "hi",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
                "clipped"
            ),
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
                "was_clipped"
            ),
        )
    )


def debounce_user_events(spark, sf_dir):
    """Gap-based event debouncing: an event is dropped when the SAME
    user emitted the SAME event type less than 5 minutes earlier — the
    standard telemetry de-noising pass (the windowed-gap variant: the
    reference point is the previous raw event, not the previous kept
    one, which is what dropDuplicatesWithinWatermark implements on the
    streaming side and what one lag() expresses in batch).

    Scale shape: one shuffle on (user_id, event_type) + an in-partition
    lag; no self-join."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.coalesce(gap >= 300_000_000, F.lit(True)).alias("kept"),
    )


def embedding_outlier_screen(spark, sf_dir):
    """Embedding-quality outlier screen: each vector's cosine to its own
    label centroid, flagged when it falls under 0.5 — the mislabeled/
    corrupted-vector gate run before embeddings feed contrastive
    training or ANN index builds.  Every sum (centroid means, dot, both
    norms) is a DECIMAL(27,6) accumulation of 6dp-rounded per-dimension
    products, so the cosine is order-independent — no reliance on
    ordered float reduction.

    Scale shape: centroids are a (labels x dims) aggregate broadcast
    back onto the exploded vectors; per-vector sums shuffle on vec_id.
    At 100 TB the explode trades memory for the broadcast-join
    locality; a fused Pandas-UDF kernel is the alternative when dims
    are large (documented in operators/similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding"))
    ).select(
        "vec_id",
        "label",
        F.col("pos"),
        F.col("col").cast("double").alias("x"),
    )
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    j = ex.join(F.broadcast(cent), ["label", "pos"])
    per_vec = j.groupBy("vec_id", "label").agg(
        F.sum(F.round(F.col("x") * F.col("c"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("dot"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("v2"),
        F.sum(F.round(F.col("c") * F.col("c"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("c2"),
    )
    cos = F.col("dot") / (F.sqrt(F.col("v2")) * F.sqrt(F.col("c2")))
    return per_vec.select(
        "vec_id",
        "label",
        F.round(cos, 6).alias("cos_to_centroid"),
        (cos < 0.5).alias("flag_outlier"),
    )


def unicode_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization — the canonicalization pass a corpus
    needs before hashing/dedup so that composed and decomposed forms of
    the same grapheme ('e'+COMBINING ACUTE vs precomposed U+00E9) stop
    counting as different text.  The corpus is ASCII, so each doc is
    prefixed with a deterministic decomposed-form token (mirrored in
    the oracle) to prove the transform actually fires; Spark has no
    built-in normalizer, so this is an Arrow-batched pandas UDF over
    stdlib unicodedata — the documented slow-path escape hatch, kept
    off every other query's hot path.

    Scale shape: map-only (no shuffle); the UDF cost is per-row C
    library work, Arrow-batched — the same contract as mapM
    (pipe.py mapm)."""
    def _nfc_batches(it):
        import unicodedata

        for pdf in it:
            pdf["norm"] = pdf["raw"].map(lambda x: unicodedata.normalize("NFC", x))
            yield pdf

    d = _t(spark, sf_dir, "documents")
    # NOTE: explicitly the DECOMPOSED form (e + U+0301), matching the
    # oracle's 'cafe' || chr(769) -- a precomposed source literal would
    # make the transform a no-op
    raw = F.concat(F.lit("cafe\u0301 "), F.col("text"))
    out = d.select("doc_id", raw.alias("raw")).mapInPandas(
        _nfc_batches, schema="doc_id long, raw string, norm string"
    )
    return out.select(
        "doc_id",
        F.length("raw").cast("long").alias("len_raw"),
        F.length("norm").cast("long").alias("len_nfc"),
        F.md5("norm").alias("nfc_md5"),
        (F.length("raw") != F.length("norm")).alias("changed"),
    )


def url_canonical_dedup(spark, sf_dir):
    """URL canonicalization + exact-URL dedup — the FIRST stage of every
    web-crawl curation pipeline (before any content hashing): lowercase
    the scheme+host, strip fragments and utm_* tracking params, drop
    trailing slashes, then keep one doc per canonical URL.  The raw
    URLs are derived deterministically from (source, doc_id) with
    injected case/param/slash/fragment noise so the canonicalizer has
    real work to do, and the SAME derivation runs in the oracle.

    Scale shape: canonicalization is a per-row JVM regexp_replace
    chain (codegen, no UDF); the dedup is one groupBy on the canonical
    string — a single keyed exchange, linear at any corpus size.  The
    regexes are kept to the Java/RE2 common subset so the identical
    patterns run on any engine."""
    d = _t(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".Example.COM"))
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(F.col("doc_id") % 4 == 0, F.upper(host)).otherwise(host),
        F.lit("/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=c&id="),
                (F.col("doc_id") % 6).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("?id="), (F.col("doc_id") % 6).cast("string")),
        )
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#sec-2")).otherwise(F.lit("")),
    )
    # canonicalize: lowercase scheme+host; strip #fragment; strip utm_*
    # params (mid-query then leading); fold '/?' -> '?'; strip trailing '/'
    low = F.concat(
        F.lower(F.regexp_extract(raw, "^[^/]+//[^/]+", 0)),
        F.regexp_replace(raw, "^[^/]+//[^/]+", ""),
    )
    c1 = F.regexp_replace(low, "#.*$", "")
    c2 = F.regexp_replace(c1, "utm_[a-z]+=[^&#]*&", "")
    c3 = F.regexp_replace(c2, "[?&]utm_[a-z]+=[^&#]*", "")
    c4 = F.regexp_replace(F.regexp_replace(c3, "/[?]", "?"), "/$", "")
    return (
        d.select(F.col("doc_id"), c4.alias("canonical_url"), raw.alias("raw_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_url").alias("n_raw_forms"),
        )
    )


def dedup_cc_best_quality_survivors(spark, sf_dir):
    """Near-dup clustering with a QUALITY-AWARE survivor policy: the
    arith-MinHash band family -> star candidate edges -> connected
    components (both already under the value-hash gate via
    dedup_minhash_arith_cc_survivors), but instead of keeping the
    min-id doc per cluster, keep the HIGHEST-QUALITY one (longest
    n_chars, doc_id tiebreak) — the policy real curation pipelines
    use, where near-dup clusters keep their best representative, not
    an arbitrary member.  Singleton docs (no near-dup) are their own
    cluster and always survive.

    Scale shape: the component label table is tiny relative to the
    corpus (only docs that collided in some band), so the label join
    broadcasts; survivor selection is argmax-as-max(struct(n_chars,
    -doc_id)) — a PARTIAL-aggregatable groupBy (map-side combine),
    deliberately not a window, which would force a full sort-shuffle
    of the corpus with no combine.  The oracle replays the closure as
    a recursive CTE and the argmax as a window (verification-side
    luxury)."""
    d = _t(spark, sf_dir, "documents")
    banded = dedup.arith_minhash_bands(d)
    w = Window.partitionBy("band", "key")
    star = (
        banded.withColumn("__mn__", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("__mn__"))
        .select(F.col("__mn__").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    comp = dedup.connected_components(star)
    lab = (
        d.join(F.broadcast(comp), d["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster"),
        )
    )
    best = F.max(
        F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nd"))
    )
    return (
        lab.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("comp_size"), best.alias("__b__"))
        .select(
            (-F.col("__b__.nd")).alias("doc_id"),
            "cluster",
            "comp_size",
            F.col("__b__.nc").alias("n_chars"),
        )
    )


def split_leakage_safe_by_cluster(spark, sf_dir):
    """Leakage-safe train/test split: hash the near-dup CLUSTER id, not
    the doc id, so a document and its near-duplicates can never land
    on opposite sides of the split — the eval-contamination failure
    mode a per-doc hash split has by construction.  Reuses the gated
    cluster labeling (arith bands -> CC) and the md5-cutoff split
    recipe of split_train_test_hash, then reports per (split, source)
    doc and cluster counts.

    Scale shape: same broadcast label join as the survivor queries;
    the split is a per-row projection on md5(cluster); the report is
    one two-column groupBy.  No all-pairs work anywhere."""
    d = _t(spark, sf_dir, "documents")
    banded = dedup.arith_minhash_bands(d)
    w = Window.partitionBy("band", "key")
    star = (
        banded.withColumn("__mn__", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("__mn__"))
        .select(F.col("__mn__").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    comp = dedup.connected_components(star)
    lab = (
        d.join(F.broadcast(comp), d["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster"),
        )
    )
    split = F.when(
        F.md5(F.col("cluster").cast("string")) < "cccc", "train"
    ).otherwise("test")
    return (
        lab.withColumn("split", split)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
    )


def domain_mixture_weights(spark, sf_dir):
    """Per-domain corpus mixing weights, the CommonCrawl-style domain
    balancing stage: aggregate doc count and char mass per registrable
    domain, then assign each domain a sqrt(n_docs) sampling weight and
    its normalized share — the standard square-root rebalancing that
    keeps head domains from dominating a crawl without starving the
    tail.

    Scale shape: one partial-aggregated groupBy on domain; the weight
    normalization rides the one-row broadcast-agg pattern (no driver
    action).  Float discipline: sqrt is IEEE-correctly-rounded (exact
    cross-engine), each weight rounds to 6 then accumulates in DECIMAL
    so the total is order-independent; the share divides two exact
    decimals as doubles — one correctly-rounded operation."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.groupBy(F.concat(F.col("source"), F.lit(".example.com")).alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn(
            "__w__",
            F.round(F.sqrt(F.col("n_docs").cast("double")), 6).cast("decimal(18,6)"),
        )
    )
    tot = per.agg(F.sum("__w__").alias("__tw__"))
    return per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "sum_chars",
        F.col("__w__").cast("double").alias("sqrt_weight"),
        F.round(
            F.col("__w__").cast("double") / F.col("__tw__").cast("double"), 6
        ).alias("weight_share"),
    )


def ccnet_rarity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail bucketing, with an INTEGER-EXACT
    rarity score in place of the KenLM perplexity: rank every token by
    global corpus frequency (rank 1 = most frequent), score each doc
    by the sum of its tokens' ranks, and ntile(3) the docs per
    language — bucket 1 = fluent/common-token docs, bucket 3 = rare-
    token soup.  The same tertile-per-language policy CCNet uses to
    keep/LM-filter/drop crawl text, but reproducible to the bit on any
    engine (no transcendentals anywhere, unlike the logprob twin
    quality_unigram_logprob).

    Scale shape: one token-count aggregation builds the vocabulary;
    the rank table is vocab-sized (computed once, broadcast back onto
    the token stream, scoring map-side); the per-doc score is one
    partial-aggregated shuffle.  The global rank window sorts only the
    vocabulary — at 100 TB cap it to the top-K tokens with an OOV
    ceiling rank, exactly like the logprob filter caps its table."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(text.normalize(F.col("text")), " ")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = vocab.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
    ).select("tok", "rank")
    scored = (
        toks.join(F.broadcast(ranked), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("rank").alias("rarity"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    wn = Window.partitionBy("lang").orderBy("rarity", "doc_id")
    return scored.select(
        "doc_id",
        "lang",
        "rarity",
        "n_tokens",
        F.ntile(3).over(wn).alias("bucket"),
    )


def atomic_multisink_roundtrip(spark, sf_dir):
    """Cross-sink ATOMICITY under the ORACLE gate: events replay in
    three epoch batches through an atomic_parquet_group with TWO
    leaves (per-type counts + raw rows), a crash is INJECTED during
    epoch 1 after the first leaf already wrote its data directory but
    before the group marker, and the result records what readers see
    (a) mid-crash and (b) after the checkpoint-style replay.  The
    mid-crash snapshot proves atomic visibility — leaf 'agg' has
    epoch-1 files ON DISK but the reader must not see them in EITHER
    leaf — and the final snapshot proves the replay converges both
    leaves to the full input.  The whole protocol (leaf writes,
    injected failure, marker rename, replay) reduces to plain SQL over
    which slices are visible at each stage, so any marker-gating bug
    is a value-hash mismatch.  Closes the VERDICT-r7 'cross-sink
    atomicity documented-not-promised' gap with a promised — and
    driver-gated — visibility contract.

    A third snapshot runs after compact_atomic_group(gc=True): the
    epoch dirs are consolidated into one compacted layout and REMOVED,
    and the reader must still return byte-identical rows — layout
    change, not data change, under the same hash gate.

    Scale shape: leaf writes are distributed parquet writes; only the
    one-file marker rename touches the driver per epoch.  The 6-row
    output is driver-side by construction (three snapshots x two
    leaves)."""
    import shutil
    import tempfile

    from tubes_spark.sink import _CURRENT_EPOCH, Sink

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    sliced = (
        e.crossJoin(F.broadcast(b))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn(
            "slice", F.least(F.expr("(ts_us - mn) * 3 DIV (mx - mn + 1)"), F.lit(2))
        )
        .select("event_id", "event_type", "slice")
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="tubes_atomic_")
    armed = {"crash": True}

    def raw_leaf(df):
        if armed["crash"] and _CURRENT_EPOCH.get() == 1:
            armed["crash"] = False
            raise RuntimeError("injected: crash after leaf 'agg', before marker")
        return df.select("event_id", "event_type")

    sink = Sink.atomic_parquet_group(
        tmp,
        {
            "agg": lambda df: df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ),
            "raw": raw_leaf,
        },
    )

    def write_epoch(ep):
        try:
            batch = sliced.filter(F.col("slice") == ep).drop("slice")
            sink.for_each_batch()(batch, ep)
        except RuntimeError:
            pass  # the injected crash; replay happens on the next call

    rows = []

    def snapshot(stage):
        for leaf, key in (("agg", F.sum("n")), ("raw", F.sum("event_id"))):
            r = (
                Sink.read_atomic_group(spark, tmp, leaf)
                .agg(F.count(F.lit(1)).alias("nr"), key.alias("ks"))
                .first()
            )
            rows.append((stage, leaf, int(r["nr"]), int(r["ks"])))

    try:
        write_epoch(0)
        write_epoch(1)  # crashes: agg data on disk, no group marker
        snapshot("after_crash")
        write_epoch(1)  # replay
        write_epoch(2)
        snapshot("final")
        # consolidate the three epoch dirs into one compacted layout
        # (small-files remedy) and GC the originals — reads must be
        # byte-identical, which the gate checks via the third snapshot
        Sink.compact_atomic_group(spark, tmp, gc=True)
        snapshot("after_compact")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, leaf string, n_rows long, key_sum long"
    )


def dedup_span_coverage(spark, sf_dir):
    """ExactSubstr span-dedup ANALYSIS pass (Lee et al. 2022 at token-
    k-gram granularity; reference parity: the scan/filter/fold pipeline
    shape of Tubes/Source.hs:167-174 lifted to positional text data):
    for every document, how many of its tokens sit inside a token
    5-gram that also occurs in ANOTHER document — the duplicated-span
    coverage a scrub pass would remove.  Emits merged-island stats
    (count, longest run) so heavily-templated docs are visible.

    Scale shape: :func:`dedup.duplicated_span_islands` — one gram
    groupBy + one hinted shuffle join + per-doc windows; everything
    else is map-side.  Linear in corpus tokens at any scale; no
    all-pairs, no broadcast of corpus-sized sets."""
    K = 5
    # _fan: the k-gram explode is the CPU-heavy projection; a
    # single-file corpus scan would run it in ONE task.
    d = _fan(_t(spark, sf_dir, "documents"))
    isl = dedup.duplicated_span_islands(d, k=K)
    cov = isl.groupBy("doc_id").agg(
        F.sum(F.col("ib") - F.col("ia") + 1).alias("dup_covered"),
        F.count(F.lit(1)).alias("n_islands"),
        F.max(F.col("ib") - F.col("ia") + 1).alias("longest_run"),
    )
    base = d.select(
        "doc_id", F.size(text.tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    # cov/rebuilt are corpus-sized (one row per doc): never broadcast
    # (the jaccard stale-estimate OOM lesson) - pin the shuffle plan.
    return base.join(cov.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_covered"), F.lit(0)).alias("dup_covered"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("dup_covered"), F.lit(0)) / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("coverage_frac"),
        F.coalesce(F.col("n_islands"), F.lit(0)).alias("n_islands"),
        F.coalesce(F.col("longest_run"), F.lit(0)).alias("longest_run"),
    )


def dedup_span_rewrite(spark, sf_dir):
    """ExactSubstr span-dedup REWRITE pass — the actual transform from
    Lee et al. 2022: delete every token run covered by a duplicated
    5-gram EXCEPT its canonical first occurrence (the minimum doc_id
    holding the gram keeps its copy), then reassemble each document
    from its surviving tokens.  Emits md5(clean text) so the full
    rewritten corpus sits under the driver's value-hash gate without
    shipping long strings through the compare.

    Scale shape: island positions expand via ``sequence`` explode —
    O(removed tokens), not O(doc^2); the scrub itself is a left_anti
    join on (doc_id, position); reassembly is one per-doc
    collect_list/array_sort whose rows are bounded by doc length.  The
    only corpus-wide exchanges are the gram groupBy, the hinted
    shuffle join, and the final per-doc shuffles — all linear."""
    K = 5
    # _fan: both the k-gram and the token posexplode are per-row heavy.
    d = _fan(_t(spark, sf_dir, "documents"))
    isl = dedup.duplicated_span_islands(d, k=K, exclude_owner=True)
    covpos = isl.select(
        "doc_id", F.explode(F.sequence(F.col("ia"), F.col("ib"))).alias("p")
    )
    tok = d.select(
        "doc_id", F.posexplode(text.tokenize(F.col("text"))).alias("p", "tk")
    ).withColumn("p", F.col("p").cast("long"))
    # covpos scales with removed tokens (corpus-scaling at 100x
    # near-dup pressure): pin the shuffle plan, never broadcast.
    kept = tok.join(covpos.hint("shuffle_hash"), ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tk"))),
                    lambda x: x["tk"],
                ),
            )
        ).alias("clean_md5"),
    )
    base = d.select(
        "doc_id", F.size(text.tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    return base.join(rebuilt.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
    )


def quality_hashed_linear_score(spark, sf_dir):
    """Hashed linear quality classifier — the fastText-shaped model
    every production curation stack runs (a frozen linear model over
    hashed bag-of-words features, e.g. the CCNet/RefinedWeb quality
    gates): each token hashes into one of 64 feature buckets, each
    bucket carries a frozen integer milli-weight derived from md5 (a
    stand-in for trained weights that any engine reproduces exactly),
    and the doc score is the logistic of the mean feature weight.

    The keep/drop label compares the INTEGER weight sum to zero —
    mathematically identical to score >= 0.5 but immune to cross-libm
    ulp drift in exp(), so the label is exact on every engine.

    Scale shape: token explode -> two md5 expressions -> one groupBy
    per doc; the model is pure codegen (no weight table to join or
    broadcast — the "table" IS an expression).  One corpus-wide
    shuffle total.  Swapping in real trained weights turns the md5
    expression into a 64-row broadcast join; nothing else changes."""
    # _fan: two md5 evaluations per token make the explode projection
    # the whole query; parallelize the single-file scan first.
    d = _fan(_t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(text.tokenize(F.col("text"))).alias("tk"))
    b = (F.conv(F.substring(F.md5(F.col("tk")), 1, 2), 16, 10).cast("long") % 64)
    wmilli = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), b.cast("string"))), 1, 3), 16, 10
        ).cast("long")
        % 2001
        - 1000
    )
    agg = tok.select("doc_id", wmilli.alias("wmilli")).groupBy("doc_id").agg(
        F.sum("wmilli").alias("sum_milli"), F.count(F.lit(1)).alias("n_tokens")
    )
    mean = F.col("sum_milli") / (F.lit(1000.0) * F.col("n_tokens"))
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_milli",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-4.0) * mean)), 6).alias("score"),
        (F.col("sum_milli") >= 0).cast("long").alias("keep_label"),
    )


def curation_funnel_attribution(spark, sf_dir):
    """Per-document DROP ATTRIBUTION through the curation funnel — the
    audit every pipeline operator reaches for when a document goes
    missing: for each doc, WHICH stage removed it (exact dedup or the
    Gopher quality gate) and WHY (the canonical survivor it duplicated,
    the first rule it failed in gate order, and the full failed-rule
    bitmask).  The stages reuse the exact semantics their standalone
    queries hash-verify (`dedup_exact_docs`,
    `pipeline_curation_end_to_end`); this query inverts them from
    "who survives" to "why did each row leave".

    Scale shape: ONE narrow shuffle on the 64-bit normalized-content
    hash (the dedup window) and map-side rule projections — attribution
    costs nothing beyond the pipeline itself, so it can run on every
    production batch rather than as a special forensic job."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("__h__")
    t = (
        d.select("doc_id", "text", F.xxhash64(text.normalize(F.col("text"))).alias("__h__"))
        .withColumn("owner", F.min("doc_id").over(w))
        .select("doc_id", "text", "owner")
    )
    toks = text.tokenize(F.col("text"))
    n = F.size("toks").cast("long")
    sum_len = F.aggregate("toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    # ADVICE r8: empty/whitespace-only docs tokenize to [] here (n=0)
    # but to [''] in the DuckDB oracle (n=1, every fraction 0.0) — pin
    # the n=0 fractions to 0.0 so both engines fail the same "low"
    # rules (mask 117) instead of Spark's nulls silently unsetting bits
    mean_len = F.when(n > 0, sum_len / n).otherwise(F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in ("the", "a", "of", "to", "and", "is", "in")])
    stop_frac = F.size(F.array_intersect("toks", stops)) / F.lit(7.0)
    long_frac = F.when(
        n > 0, F.size(F.filter("toks", lambda x: F.length(x) >= 3)) / n
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n > 0, F.size(F.filter("toks", lambda x: x.rlike("[A-Za-z]"))) / n
    ).otherwise(F.lit(0.0))
    # gate-order rule list: (bit, name, FAILS-when predicate) — first
    # match wins for first_failed_rule, all matches land in fail_mask
    rules = [
        (1, "too_short", n < 50),
        (2, "too_long", n > 100000),
        (4, "mean_word_len_low", mean_len < 3.0),
        (8, "mean_word_len_high", mean_len > 10.0),
        (16, "low_stopword", stop_frac < (2.0 / 7.0)),
        (32, "short_words", long_frac < 0.6),
        (64, "low_alpha", alpha_frac < 0.8),
    ]
    mask = sum((F.when(p, F.lit(b)).otherwise(F.lit(0)) for b, _, p in rules),
               F.lit(0)).cast("long")
    first = F.lit("")
    for b, name, p in reversed(rules):
        first = F.when(p, F.lit(name)).otherwise(first)
    proj = t.select("doc_id", "owner", toks.alias("toks")).select(
        "doc_id", "owner", mask.alias("fail_mask"), first.alias("first_failed_rule")
    )
    return proj.select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("owner"), F.lit("exact_dup"))
        .when(F.col("fail_mask") > 0, F.lit("quality"))
        .otherwise(F.lit("kept"))
        .alias("stage"),
        F.when(F.col("doc_id") != F.col("owner"), F.col("owner"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("dup_owner"),
        # the gate never runs for exact dups: zero their rule fields so
        # the attribution is the stage that ACTUALLY dropped them
        F.when(F.col("doc_id") != F.col("owner"), F.lit(0))
        .otherwise(F.col("fail_mask"))
        .cast("long")
        .alias("fail_mask"),
        F.when(F.col("doc_id") != F.col("owner"), F.lit(""))
        .otherwise(F.col("first_failed_rule"))
        .alias("first_failed_rule"),
    )


def chunk_content_defined(spark, sf_dir):
    """Content-defined chunking (the Rabin/FastCDC family at token
    granularity) — the storage-dedup primitive `chunk_documents_ctx`'s
    fixed windows deliberately are not: a chunk boundary opens wherever
    the hash of the local 2-token gram lands in 1/8 of the hash space,
    so boundaries are SHIFT-INVARIANT — insert a paragraph at the top
    of a document and every downstream chunk still hashes the same,
    which is what lets a corpus-wide chunk store dedup re-crawled
    near-identical pages at far sub-document granularity.  Emits each
    chunk's content hash plus how many distinct documents share it —
    the dedup opportunity a CDC store would bank.

    Production CDC adds min/max chunk bounds (boundary suppression),
    which reintroduces sequential dependence; the unbounded form here
    keeps every step parallel and the expected chunk length is the
    divisor (8 tokens).

    Scale shape: tokenize + posexplode are map-side; the boundary flag
    is a codegen'd md5 of the gram; chunk ids are a per-doc prefix sum
    (one doc_id shuffle); chunk assembly is a (doc, chunk) aggregate;
    the sharing count is one groupBy on the chunk hash joined back with
    shuffle_hash pinned (the chunk-hash table scales with the corpus —
    never broadcast)."""
    D = 8
    d = _fan(_t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.posexplode(text.tokenize(F.col("text"))).alias("p", "tk")
    ).withColumn("p", F.col("p").cast("long"))
    w_prev = Window.partitionBy("doc_id").orderBy("p")
    gram = F.concat_ws(" ", F.lag("tk", 1).over(w_prev), F.col("tk"))
    boundary = F.when(
        (F.col("p") > 0)
        & (F.conv(F.substring(F.md5(gram), 1, 4), 16, 10).cast("long") % D == 0),
        F.lit(1),
    ).otherwise(F.lit(0))
    w_run = (
        Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = tok.withColumn("b", boundary).withColumn(
        "chunk_idx", F.sum("b").over(w_run)
    )
    chunks = marked.groupBy("doc_id", "chunk_idx").agg(
        F.min("p").alias("start_pos"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tk"))),
                    lambda x: x["tk"],
                ),
            )
        ).alias("chunk_md5"),
    )
    share = chunks.groupBy("chunk_md5").agg(
        F.count_distinct("doc_id").alias("n_docs_sharing")
    )
    return chunks.join(share.hint("shuffle_hash"), "chunk_md5").select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "start_pos",
        "n_tokens",
        "chunk_md5",
        "n_docs_sharing",
    )


def pipeline_stage_memoized(spark, sf_dir):
    """Stage memoization under the value-hash gate (`memo.memo_stage`):
    the exact-dedup stage materializes once, keyed by the corpus's
    distributed content fingerprint + the stage config; a second
    invocation with the same key MUST take the reuse path (the query
    raises if it recomputes — so the driver gate itself pins the memo
    hit) and both paths' downstream per-source aggregates are emitted
    and must agree row-for-row with plain SQL that knows nothing about
    the materialization.  This is the iterate-on-a-100TB-pipeline
    contract: unchanged upstream => the expensive global-dedup shuffle
    runs zero times on the rerun.

    Scale shape (r9): the fingerprint is INCREMENTAL
    (`memo.input_fingerprint`) — per-file digests cached by
    (path, size, mtime), so the rerun's fingerprint costs a driver
    file-status listing and ZERO Spark jobs; the query proves it
    structurally by recomputing the rerun fingerprint with
    ``spark=None`` (any data read would crash) and raising if it
    moved.  The memoized stage is the standard dedup hash shuffle;
    the reuse path is a bare parquet read."""
    import os as _os
    import shutil
    import tempfile

    from tubes_spark.memo import input_fingerprint, memo_stage

    # _fan: the dedup window's normalize+hash is the CPU; a single-file
    # corpus scan would run the projection in ONE task.
    d = _fan(_t(spark, sf_dir, "documents"))
    tmp = tempfile.mkdtemp(prefix="tubes_memo_stage_")
    src = _os.path.join(sf_dir, "documents.parquet")
    try:
        fp0 = input_fingerprint(spark, src, f"{tmp}/_file_digests.json")
        # the rerun path: unchanged input -> cache hits for every file
        # -> no Spark session needed at all (zero data reads, by types)
        fp1 = input_fingerprint(None, src, f"{tmp}/_file_digests.json")
        if fp1 != fp0:
            raise RuntimeError("incremental fingerprint moved on unchanged input")
        fp = fp0 + "|dedup_exact:v1"
        out = []
        for run in ("fresh", "reused"):
            stage, reused = memo_stage(
                spark, lambda: dedup.dedup_exact(d), f"{tmp}/dedup", fp
            )
            if reused != (run == "reused"):
                raise RuntimeError(f"memo_stage path violation on {run} run")
            agg = stage.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("chars_total"),
            )
            out.append(agg.select(F.lit(run).alias("run"), "*"))
        return out[0].unionByName(out[1]).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Round-9 additions: entity resolution, k-anonymity, hybrid RAG retrieval
# --------------------------------------------------------------------------


def record_linkage_entities(spark, sf_dir):
    """Entity resolution over structured records (the Fellegi-Sunter
    shape: block -> pairwise field comparison -> transitive closure),
    under the full oracle gate.  The record set derives two views of
    each customer: the clean row plus, for the md5-even half, a "dirty"
    variant with one substituted name digit and a <1.0 balance drift --
    the ingest noise an MDM/linkage pipeline must re-link.  Blocking on
    (nation, segment, name-suffix) bounds the candidate set; a pair
    links when levenshtein(name) <= 2 AND |bal delta| <= 1.0; entity
    ids are the smallest rec_id of each match-graph component
    (operators/dedup.py connected_components -- the same union-find
    engine as the dedup survivor policies, here value-hash-checked
    against a DuckDB recursive-CTE closure on a second graph shape).
    Reference semantics: Tubes.hs filter/merge composition over a keyed
    pair stream; Fellegi & Sunter (1969) for the linkage model.

    Scale shape: candidate pairs exist only WITHIN blocking groups
    (nation x segment x suffix ~= 12.5k keys), so pair generation is a
    narrow equi-self-join on the block key -- never all-pairs -- and
    levenshtein runs on candidates only; label propagation touches just
    the verified edge set.  At 100 TB the block key fans out with the
    corpus while per-block cost stays O(block^2) with tiny blocks; an
    ADVERSARIAL block (one name repeated en masse) is bounded by the
    _LINK_CAP stable-prefix split (never fires at gate SFs; recall
    contract tested in tests/test_round9.py)."""
    c = _t(spark, sf_dir, "customer")
    h = F.conv(F.substring(F.md5(F.col("c_name")), 1, 4), 16, 10).cast("long")
    base = c.select(
        (F.col("c_custkey") * 2).alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
        F.lit(0).alias("is_dirty"),
    )
    # c_name is fixed-width 'Customer#%09d' (18 chars): substitute the
    # 3rd-from-last digit (+1+(h%8) mod 10 is never the original digit)
    # and drift the balance by <1.0 -- both md5-deterministic, so the
    # oracle rebuilds the identical dirty table.
    newd = (
        (F.substring(F.col("c_name"), 16, 1).cast("int") + 1 + (h % 8)) % 10
    ).cast("string")
    dirty = c.filter(h % 2 == 0).select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        F.concat(
            F.substring(F.col("c_name"), 1, 15),
            newd,
            F.substring(F.col("c_name"), 17, 2),
        ).alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") + (h % 100) / F.lit(100.0)).alias("bal"),
        F.lit(1).alias("is_dirty"),
    )
    recs = base.unionByName(dirty).withColumn("blk", F.substring("name", 17, 2))
    # Block-size cap (same contract as _BAND_CAP in the dedup families):
    # a (nat, seg, blk) block larger than _LINK_CAP records splits
    # 16 ways on an md5 digit of the STABLE name prefix (chars 1-15 —
    # the dirty perturbation only touches position 16+, so a dirty
    # variant always lands in its base's subgroup and the relink
    # recall contract survives the split).  Never fires at gate SFs
    # (largest block ~ n/12500); bounds the worst case an adversarial
    # corpus of identical names can present to ~(size/16)^2 per
    # subgroup.
    wblk = Window.partitionBy("nat", "seg", "blk")
    recs = recs.withColumn("blk_n", F.count(F.lit(1)).over(wblk)).withColumn(
        "blk2",
        F.when(
            F.col("blk_n") > _LINK_CAP,
            F.conv(F.substring(F.md5(F.substring("name", 1, 15)), 1, 1), 16, 10)
            .cast("int"),
        ).otherwise(F.lit(-1)),
    )
    cols = ("rec_id", "name", "nat", "seg", "bal", "blk", "blk2")
    a = recs.select(*[F.col(x).alias(x + "_a") for x in cols])
    b = recs.select(*[F.col(x).alias(x + "_b") for x in cols])
    pairs = (
        a.join(
            b,
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
            & (F.col("blk_a") == F.col("blk_b"))
            & (F.col("blk2_a") == F.col("blk2_b"))
            & (F.col("rec_id_a") < F.col("rec_id_b")),
        )
        .filter(
            (F.levenshtein("name_a", "name_b") <= 2)
            & (F.abs(F.col("bal_a") - F.col("bal_b")) <= 1.0)
        )
        .select(F.col("rec_id_a").alias("id_a"), F.col("rec_id_b").alias("id_b"))
    )
    comp = dedup.connected_components(pairs)
    return (
        recs.join(comp, recs["rec_id"] == comp["id"], "left")
        .select(
            F.coalesce(F.col("comp"), F.col("rec_id")).alias("entity_id"),
            "rec_id",
            "is_dirty",
            "bal",
        )
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.sum("is_dirty").cast("long").alias("n_dirty"),
            F.countDistinct(F.expr("rec_id div 2")).cast("long").alias("n_sources"),
            F.round(F.max("bal") - F.min("bal"), 2).alias("bal_spread"),
        )
    )


def k_anonymity_generalize(spark, sf_dir):
    """k-anonymity (k=5) by iterative local generalization over the
    customer quasi-identifiers (nation, segment, balance band) -- the
    release-gating governance op beside PII redaction: every released
    group must hold >= k records.  The generalization ladder is L0
    (nation, segment, $100 band) -> L1 (nation, segment, $1000 band)
    -> L2 (REGION, segment, $1000 band) -> suppress; each level
    re-groups only the records the previous level could not release
    (local recoding, Samarati / Sweeney 1998).

    Scale shape: ONE scan and three narrow window shuffles — the ladder
    is expressed as conditional windowed counts (level-L counts only
    the rows every earlier level failed to release), not a union of
    per-level branches that would re-scan the lineage once per level;
    dimension joins are broadcasts; no row is released in a group
    smaller than k by construction."""
    K = 5
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    qi = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / 100).cast("long").alias("b100"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("b1000"),
        )
    )
    w0 = Window.partitionBy("nation", "seg", "b100")
    w1 = Window.partitionBy("nation", "seg", "b1000")
    w2 = Window.partitionBy("region", "seg", "b1000")
    fail0 = F.col("gs0") < K
    fail1 = fail0 & (F.col("gs1") < K)
    g = (
        qi.withColumn("gs0", F.count(F.lit(1)).over(w0))
        .withColumn("gs1", F.sum(F.when(fail0, 1).otherwise(0)).over(w1))
        .withColumn("gs2", F.sum(F.when(fail1, 1).otherwise(0)).over(w2))
    )
    lvl = (
        F.when(F.col("gs0") >= K, 0)
        .when(F.col("gs1") >= K, 1)
        .when(F.col("gs2") >= K, 2)
        .otherwise(3)
    )
    return g.select(
        "c_custkey",
        lvl.alias("level"),
        F.when(lvl <= 1, F.col("nation"))
        .when(lvl == 2, F.col("region"))
        .cast("string")
        .alias("qi_geo"),
        F.when(lvl <= 2, F.col("seg")).cast("string").alias("qi_seg"),
        F.when(lvl == 0, F.col("b100"))
        .when(lvl <= 2, F.col("b1000"))
        .cast("long")
        .alias("qi_band"),
        F.when(lvl == 0, F.col("gs0"))
        .when(lvl == 1, F.col("gs1"))
        .when(lvl == 2, F.col("gs2"))
        .otherwise(0)
        .cast("long")
        .alias("group_size"),
    )


def _hybrid_ranked(spark, sf_dir):
    """Shared retrieval legs for rag_hybrid_rrf / retrieval_eval_metrics:
    three fixed multi-term queries scored by BM25 (Lucene-form idf) and
    Dirichlet-smoothed query likelihood (mu=100), each leg ranked per
    query (score desc, doc_id).  Returns (query_id, doc_id, lr, qr).

    Scale shape: postings are filtered to the 6 query terms BEFORE any
    join (selective index probes -- nothing touches non-matching docs
    after the tf scan); collection stats are a 1-row broadcast; ranks
    are per-query windows.  Float discipline: per-term components
    rounded to 6dp and decimal-summed (order-independent doc scores)."""
    QUERIES = [
        (1, "table"),
        (1, "merge"),
        (2, "window"),
        (2, "stream"),
        (3, "filter"),
        (3, "join"),
    ]
    MU = 100.0
    k1, b = 1.2, 0.75
    qdf = spark.createDataFrame(QUERIES, "query_id int, term string")
    # _fan: tokenizing the corpus is the CPU-heavy projection (see _fan)
    d = _fan(_t(spark, sf_dir, "documents"))
    toks = text.tokenize(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).localCheckpoint(eager=True)
    dl = base.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").cast("long").alias("sum_dl")
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin([t for _, t in QUERIES]))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)  # probed by df/ctf/both scoring legs
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ctf = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("ctf"))
    hits = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(ctf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    avgdl = F.col("sum_dl") / F.col("n_docs")
    bm25_comp = F.round(
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        6,
    )
    ql_comp = F.round(
        F.log(
            (F.col("tf") + MU * (F.col("ctf") / F.col("sum_dl")))
            / (F.col("dl") + MU)
        ),
        6,
    )
    scored = hits.groupBy("query_id", "doc_id").agg(
        F.sum(bm25_comp.cast("decimal(27,6)")).cast("double").alias("bm25"),
        F.sum(ql_comp.cast("decimal(27,6)")).cast("double").alias("ql"),
    )
    wb = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    wq = Window.partitionBy("query_id").orderBy(F.col("ql").desc(), F.col("doc_id"))
    return scored.select(
        "query_id",
        "doc_id",
        F.row_number().over(wb).alias("lr"),
        F.row_number().over(wq).alias("qr"),
    )


def rag_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: the two
    _hybrid_ranked legs cut at top-20, fused with RRF (Cormack et al.
    2009, k=60): rrf = sum over legs of 1/(60+rank).  The top-10 fused
    contexts per query is exactly the retrieval stage a RAG pipeline
    runs before context assembly.  The fusion is rank arithmetic on
    <= 40 rows per query; ranks are ints; 1/(60+rank) is exact IEEE
    division."""
    K_CUT, RRF_K = 20, 60
    ranked = _hybrid_ranked(spark, sf_dir).filter(
        (F.col("lr") <= K_CUT) | (F.col("qr") <= K_CUT)
    )
    fused = ranked.withColumn(
        "rrf",
        F.when(F.col("lr") <= K_CUT, 1.0 / (RRF_K + F.col("lr"))).otherwise(0.0)
        + F.when(F.col("qr") <= K_CUT, 1.0 / (RRF_K + F.col("qr"))).otherwise(0.0),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("final_rank", F.row_number().over(wf))
        .filter(F.col("final_rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.when(F.col("lr") <= K_CUT, F.col("lr")).otherwise(F.lit(0)).alias("lex_rank"),
            F.when(F.col("qr") <= K_CUT, F.col("qr")).otherwise(F.lit(0)).alias("ql_rank"),
            F.round("rrf", 6).alias("rrf"),
            "final_rank",
        )
    )


def lm_stupid_backoff_filter(spark, sf_dir):
    """LM-perplexity quality filtering (the CCNet/KenLM curation stage,
    Wenzek et al. 2020) with a Stupid Backoff bigram model (Brants et
    al. 2007 -- the score Google built FOR distributed map-reduce LMs,
    which is why it fits Spark: no normalization pass, every score is a
    count ratio).  The corpus md5-splits into a train half (the LM) and
    an eval half (the docs being filtered); each eval bigram scores
    ln(c(prev,w)/c(prev)) when the bigram was seen in training, else
    backoff ln(0.4 * c(w)/N), else an OOV floor ln(0.2/N); a doc's
    fluency is its mean bigram log-score, and the filter keeps the top
    two tertiles (the CCNet head+middle split).

    Scale shape: the trained LM *is* three count tables keyed by term
    -- bigram counts, context counts, unigram counts -- so scoring is
    narrow hash joins on the bigram key, exactly how distributed LM
    inference shards (Brants et al. section 3); N is a 1-row broadcast.
    The tertile cut is TWO exact percentile thresholds broadcast from a
    1-row aggregate back onto the per-doc scores (the curriculum_phases
    pattern) -- never a global ntile, whose unpartitioned window plans
    Exchange SinglePartition over every row (VERDICT-r9 #3); at 100 TB
    swap the exact percentile for percentile_approx, as CCNet does.
    Float discipline: ln rounded to 6dp per bigram, DECIMAL(27,6)-summed
    per doc; thresholds compare with strict > so an interpolated cut
    between two distinct 6dp scores can never flip a doc cross-engine."""
    d = _fan(
        _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    )
    par = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
    )
    toks = d.select(
        "doc_id", par.alias("par"), text.tokenize(F.col("text")).alias("w")
    ).localCheckpoint(eager=True)  # feeds 4 count legs + the eval side
    big = toks.filter(F.size("w") >= 2).select(
        "doc_id",
        "par",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("w"), 1, F.size("w") - 1).alias("prev"),
                F.expr("slice(w, 2, size(w) - 1)").alias("nxt"),
            )
        ).alias("b"),
    ).select("doc_id", "par", F.col("b.prev").alias("prev"), F.col("b.nxt").alias("nxt"))
    train_big = big.filter(F.col("par") == 0)
    cb = train_big.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("cb"))
    cc = cb.groupBy("prev").agg(F.sum("cb").alias("cc"))
    cu = (
        toks.filter(F.col("par") == 0)
        .select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    n = toks.filter(F.col("par") == 0).agg(
        F.sum(F.size("w")).cast("long").alias("n")
    )
    lp = F.round(
        F.when(
            F.col("cb").isNotNull(),
            F.log(F.col("cb").cast("double") / F.col("cc")),
        )
        .when(F.col("cu").isNotNull(), F.log(0.4 * F.col("cu") / F.col("n")))
        .otherwise(F.log(0.2 / F.col("n"))),
        6,
    )
    scored = (
        big.filter(F.col("par") == 1)
        .join(cb, ["prev", "nxt"], "left")
        .join(cc, "prev", "left")
        .join(cu, big["nxt"] == cu["tok"], "left")
        .crossJoin(F.broadcast(n))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("lp").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logp"),
        )
        # materialize once: both the threshold aggregate and the final
        # select read it, and the subtree above is 4 joins deep
        .localCheckpoint(eager=True)
    )
    bounds = scored.agg(
        F.percentile(F.col("avg_logp"), F.lit(2.0 / 3)).alias("b1"),
        F.percentile(F.col("avg_logp"), F.lit(1.0 / 3)).alias("b2"),
    )
    tert = (
        F.when(F.col("avg_logp") > F.col("b1"), 1)
        .when(F.col("avg_logp") > F.col("b2"), 2)
        .otherwise(3)
    )
    return scored.join(F.broadcast(bounds)).select(
        "doc_id",
        "n_bigrams",
        "avg_logp",
        tert.cast("int").alias("tertile"),
        (F.col("avg_logp") > F.col("b2")).cast("int").alias("keep"),
    )


def _morton_spread16(v: Column) -> Column:
    """Interleave zeros between the low 16 bits of ``v`` (Morton spread,
    the standard mask ladder) -- pure integer codegen on both engines.
    The mask-ladder form of sources.morton_key's per-bit loop (8 ops vs
    64); tests/test_round9.py proves them bit-equal against a pure-
    python reference."""
    s = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(16711935))
    s = s.bitwiseOR(F.shiftleft(s, 4)).bitwiseAND(F.lit(252645135))
    s = s.bitwiseOR(F.shiftleft(s, 2)).bitwiseAND(F.lit(858993459))
    return s.bitwiseOR(F.shiftleft(s, 1)).bitwiseAND(F.lit(1431655765))


def layout_zorder_skipping(spark, sf_dir):
    """Data-layout file skipping: write the SAME event set under three
    physical orders -- Z-order (Morton interleave of user-shard x day),
    time-linear (arrival), user-clustered -- into 64 equal files, keep
    per-file (min,max) zone maps for both dimensions, and count how
    many files a 2-D predicate rectangle (shard in [4,7] AND day in
    [7,13]) must read under each layout.  The clustering key is the
    16-way user shard (user_id % 16) so the rectangle keeps the same
    ~25% x ~23% two-dimensional selectivity at every SF -- at which the
    Z-order layout reads strictly fewer files than BOTH single-dim
    orders on all three test corpora (sf0.01: 9 vs 16 linear / 12
    user).  This is the OPTIMIZE ZORDER /
    clustering-keys decision a 100 TB table owner makes, reproduced as
    an exactly-checkable query: Morton codes are pure integer bit
    arithmetic (identical on both engines), file assignment is an exact
    ntile over the layout order, and skipping is zone-map interval
    disjointness -- min/max stats exactly as parquet row groups keep.

    Scale shape: the production write is repartitionByRange(n, z) --
    the same range-split ntile models here deterministically; zone-map
    evaluation touches only file-level stats (64 rows), never data.
    Everything is BIGINT -- no float discipline needed."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 16).cast("long").alias("u"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    z = _morton_spread16(F.col("u")).bitwiseOR(
        F.shiftleft(_morton_spread16(F.col("day")), 1)
    )
    N_FILES = 64
    laid = e.withColumn("z", z).select(
        "*",
        F.ntile(N_FILES)
        .over(Window.orderBy("z", "event_id"))
        .alias("f_zorder"),
        F.ntile(N_FILES).over(Window.orderBy("event_id")).alias("f_linear"),
        F.ntile(N_FILES)
        .over(Window.orderBy("u", "event_id"))
        .alias("f_user"),
    )
    stacked = laid.select(
        "u",
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.col("f_zorder").alias("file_id"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.col("f_linear").alias("file_id"),
                ),
                F.struct(
                    F.lit("user").alias("layout"), F.col("f_user").alias("file_id")
                ),
            )
        ).alias("s"),
    ).select("u", "day", F.col("s.layout").alias("layout"), F.col("s.file_id").alias("file_id"))
    in_rect = F.col("u").between(4, 7) & F.col("day").between(7, 13)
    zones = stacked.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("rows"),
        F.min("u").alias("min_u"),
        F.max("u").alias("max_u"),
        F.min("day").alias("min_d"),
        F.max("day").alias("max_d"),
        F.sum(in_rect.cast("long")).alias("match_rows"),
    )
    readable = ~(
        (F.col("max_u") < 4)
        | (F.col("min_u") > 7)
        | (F.col("max_d") < 7)
        | (F.col("min_d") > 13)
    )
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("files_total"),
        F.sum(readable.cast("long")).cast("long").alias("files_read"),
        F.sum(F.when(readable, F.col("rows")).otherwise(0))
        .cast("long")
        .alias("rows_read"),
        F.sum("match_rows").cast("long").alias("rows_match"),
    )


def retrieval_eval_metrics(spark, sf_dir):
    """Retrieval evaluation harness over the two _hybrid_ranked legs:
    Recall@10, MRR@20 and nDCG@10 per (query, leg) -- the measurement
    stage that decides WHICH retriever configuration a RAG pipeline
    ships.  Relevance labels are md5-deterministic pseudo-judgments
    (1-in-5 of the corpus per query) so the metric ARITHMETIC -- the
    part that must be exactly right -- is value-hash-gated end to end;
    swapping in human qrels is a one-column change.

    Metric discipline: gain terms 1/log2(rank+1) are rounded to 6dp and
    DECIMAL-summed (rank-indexed, so DCG and the R-truncated ideal DCG
    share the same term table); recall divides exact BIGINT counts; MRR
    is 1/first-relevant-rank within the top-20 cut, 0.0 when the leg
    surfaces nothing relevant.  Scale shape: metrics join the top-20
    cut (<= 40 rows per query) against the label predicate -- only the
    corpus-wide relevant COUNT touches the full table, one narrow agg;
    the 10-row gain table is a broadcast."""
    ranked = _hybrid_ranked(spark, sf_dir)
    legs = ranked.select(
        "query_id",
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("bm25").alias("leg"), F.col("lr").alias("rank")),
                F.struct(F.lit("ql").alias("leg"), F.col("qr").alias("rank")),
            )
        ).alias("s"),
    ).select(
        "query_id", "doc_id", F.col("s.leg").alias("leg"), F.col("s.rank").alias("rank")
    ).filter(F.col("rank") <= 20)

    def rel(qcol, dcol):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("q"),
                            qcol.cast("string"),
                            F.lit(":"),
                            dcol.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 5
            == 0
        )

    # corpus-wide relevant count per query (the recall denominator)
    qids = spark.range(1, 4).select(F.col("id").cast("int").alias("query_id"))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    totals = (
        docs.crossJoin(F.broadcast(qids))
        .groupBy("query_id")
        .agg(
            F.sum(rel(F.col("query_id"), F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_relevant")
        )
    )
    gain = spark.range(1, 11).select(
        F.col("id").cast("int").alias("rank"),
        F.round(1.0 / F.log2(F.col("id") + 1.0), 6).alias("g"),
    )
    labeled = legs.withColumn(
        "rel", rel(F.col("query_id"), F.col("doc_id")).cast("int")
    ).join(F.broadcast(gain), "rank", "left")
    per_leg = labeled.groupBy("query_id", "leg").agg(
        F.sum(F.when((F.col("rel") == 1) & (F.col("rank") <= 10), 1).otherwise(0))
        .cast("long")
        .alias("hits_top10"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
        F.sum(
            F.when((F.col("rel") == 1) & (F.col("rank") <= 10), F.col("g"))
            .otherwise(0.0)
            .cast("decimal(27,6)")
        )
        .cast("double")
        .alias("dcg"),
    )
    idcg = (
        totals.crossJoin(F.broadcast(gain))
        .filter(F.col("rank") <= F.least(F.lit(10), F.col("n_relevant")))
        .groupBy("query_id", "n_relevant")
        .agg(F.sum(F.col("g").cast("decimal(27,6)")).cast("double").alias("idcg"))
    )
    return (
        per_leg.join(F.broadcast(idcg), "query_id")
        .select(
            "query_id",
            "leg",
            "n_relevant",
            "hits_top10",
            F.round(F.col("hits_top10") / F.col("n_relevant"), 6).alias(
                "recall_at_10"
            ),
            F.round(
                F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)), 6
            ).alias("mrr_at_20"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
        )
    )


def gdpr_delete_roundtrip(spark, sf_dir):
    """Right-to-be-forgotten under the ORACLE gate: events land in an
    atomic_parquet_group as two epochs (event_id parity) across two
    leaves -- raw rows and per-(user, epoch) aggregates -- then
    sink.Sink.delete_rows_atomic scrubs one user cohort (user_id % 7 =
    3) from BOTH leaves and the WHOLE commit history.  Three snapshots
    reduce the protocol to plain SQL over the input: 'before' (full
    table), 'after_delete' (live view minus the cohort), and
    'asof0_after' (the as-of-epoch-0 time-travel read AFTER the delete
    -- the purged rows must be gone from history too, the GDPR
    requirement that wins over snapshot immutability).  Any marker/
    rewrite bug -- a leaf scrubbed but not published, a snapshot
    leaking purged rows, epoch lineage lost in the rewrite -- lands as
    a value-hash mismatch.

    Scale shape: the delete is one filtered scan + consolidated write
    per leaf (compaction cost class) and one atomic marker rename; the
    6-row output is driver-side by construction."""
    import shutil
    import tempfile

    from tubes_spark.sink import Sink

    e = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="tubes_gdpr_")
    sink = Sink.atomic_parquet_group(
        tmp,
        {
            "raw": None,
            "agg": lambda df: df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n")
            ),
        },
    )
    rows = []

    def snapshot(stage, as_of=None):
        for leaf, key in (("raw", F.sum("event_id")), ("agg", F.sum("n"))):
            r = (
                Sink.read_atomic_group(spark, tmp, leaf, as_of_epoch=as_of)
                .agg(F.count(F.lit(1)).alias("nr"), key.alias("ks"))
                .first()
            )
            rows.append((stage, leaf, int(r["nr"]), int(r["ks"])))

    try:
        for ep in (0, 1):
            sink.for_each_batch()(e.filter(F.col("event_id") % 2 == ep), ep)
        snapshot("before")
        Sink.delete_rows_atomic(spark, tmp, "user_id % 7 = 3")
        snapshot("after_delete")
        snapshot("asof0_after", as_of=0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, leaf string, n_rows long, key_sum long"
    )


def cdc_upsert_roundtrip(spark, sf_dir):
    """MERGE / upsert semantics under the ORACLE gate, merge-on-read
    form: epoch 0 of an atomic_parquet_group holds per-user event
    totals for the first 20 days; epoch 1 is an UPSERT batch -- every
    user active on day >= 20 gets a replacement row with the all-days
    total, and the user_id % 10 = 4 cohort among them gets a TOMBSTONE
    instead.  sink.Sink.read_atomic_latest resolves the log latest-
    wins-with-tombstones (upsert = one appended epoch, merge at read);
    sink.Sink.compact_to_latest then rewrites to the surviving rows
    (the copy-on-write flip) and the second snapshot must aggregate
    identically -- so a wrong window frame, a tombstone leak, or a
    compaction that resurrects a superseded version is a value-hash
    mismatch.  With delete_rows_atomic this completes the DML triad
    (append / delete / merge) on the atomic-group layout.

    Scale shape: the MoR read costs one key-window over committed
    epochs; the CoW rewrite is compaction-class; the upsert itself is
    a plain epoch append.  4-row output by construction."""
    import shutil
    import tempfile

    from tubes_spark.sink import Sink

    d = _t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("day"),
    )
    base = (
        d.filter(F.col("day") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("deleted", F.lit(False))
    )
    upd = (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max((F.col("day") >= 20).cast("int")).alias("active_late"),
        )
        .filter(F.col("active_late") == 1)
        .select(
            "user_id", "n", (F.col("user_id") % 10 == 4).alias("deleted")
        )
    )
    tmp = tempfile.mkdtemp(prefix="tubes_cdc_")
    sink = Sink.atomic_parquet_group(tmp, {"state": None})
    rows = []

    def snapshot(stage, df):
        r = df.agg(
            F.count(F.lit(1)).alias("nu"),
            F.sum("n").alias("sn"),
            F.sum("user_id").alias("su"),
        ).first()
        rows.append((stage, int(r["nu"]), int(r["sn"]), int(r["su"])))

    try:
        for ep, batch in ((0, base), (1, upd)):
            sink.for_each_batch()(batch, ep)
        snapshot(
            "merged",
            Sink.read_atomic_latest(
                spark, tmp, "state", ["user_id"], tombstone="deleted"
            ),
        )
        Sink.compact_to_latest(spark, tmp, ["user_id"], tombstone="deleted")
        snapshot("compacted", Sink.read_atomic_group(spark, tmp, "state"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, n_users long, sum_n long, sum_uid long"
    )


def streaming_cdc_upsert(spark, sf_dir):
    """CDC upsert through the REAL streaming engine under the ORACLE
    gate: events replay as three time-sliced triggers; each micro-batch
    publishes its per-user snapshot (event count + last event id in the
    batch) as one atomic-group epoch via foreachBatch, with the
    user_id % 10 = 4 cohort TOMBSTONED in the final trigger; the result
    is sink.Sink.read_atomic_latest -- last-snapshot-wins per user with
    tombstone deletes.  Slice boundaries are integer-micros arithmetic
    ((ts-mn)*3 div span), so batch k == slice k exactly and DuckDB
    rebuilds every surviving row: a replayed epoch, a latest-wins
    window off by one, or a tombstone applied in the wrong trigger is
    a value-hash mismatch.  This is the streaming proof of the MoR
    path cdc_upsert_roundtrip gates in batch form.

    Scale shape: per trigger one narrow user agg + a distributed
    parquet write + a single marker rename; the MoR read is one key
    window over committed epochs.  Contrast with
    streaming_upsert_latest (the CDC-APPLY pattern: every batch pays a
    keyed merge shuffle into a mirror table): here a batch pays only
    its own append, and the merge is deferred to read time -- the MoR
    half of the same trade, with compact_to_latest as the flip."""
    import shutil
    import tempfile

    from tubes_spark.sink import _CURRENT_EPOCH, Sink
    from tubes_spark.streaming.run import write_ordered_slices

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    b = e.agg(F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")).first()
    mn, mx = b["mn"], b["mx"]
    conds = [
        F.least(F.expr(f"(ts_us - {mn}) * 3 DIV {mx - mn + 1}"), F.lit(2)) == i
        for i in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="tubes_scdc_")
    try:
        write_ordered_slices(e, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("user_id long, ts_us long, event_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )

        def state_leaf(df):
            ep = _CURRENT_EPOCH.get() or 0
            return df.groupBy("user_id").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.max("event_id").alias("last_event"),
            ).withColumn(
                "deleted", (F.col("user_id") % 10 == 4) & F.lit(int(ep) == 2)
            )

        sink = Sink.atomic_parquet_group(f"{tmp}/out", {"state": state_leaf})
        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(sink.for_each_batch())
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(120)
        res = (
            Sink.read_atomic_latest(
                spark, f"{tmp}/out", "state", ["user_id"], tombstone="deleted"
            )
            .select(
                "user_id",
                "n",
                "last_event",
                F.col("epoch").cast("int").alias("last_slice"),
            )
            .localCheckpoint(eager=True)
        )
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_dedup_incremental_minhash(spark, sf_dir):
    """The persisted near-dup index under the REAL streaming engine
    (the daily-crawl loop as micro-batches): documents replay as three
    doc_id%3 slices; each trigger's foreachBatch checks its batch
    against the atomic-group signature index built by the PRIOR
    triggers (batch 0 bootstraps it), emits the batch's non-colliding
    docs, and appends the batch's own band rows as the next committed
    epoch.  Within-batch near-dups are deliberately NOT checked — the
    index is the seen-set, exactly the incremental contract
    dedup_incremental_minhash gates in batch form — so the oracle is a
    pure earlier-slice collision rule: doc_id%3 arithmetic makes batch
    k == slice k and every survivor row SQL-reconstructible.  Note the
    appended epochs carry band rows for ALL checked docs, REJECTED
    near-dups included (ADVICE r10): a later batch can be rejected for
    colliding only with a doc that was itself rejected — transitive
    rejection, deliberately encoded by this oracle (any doc matching a
    prior variant of a seen cluster is still a dup).

    Scale shape per trigger: |batch| signature computations + one
    narrow (band, key) semi-join against the index scan + one epoch
    append behind the atomic marker; nothing ever recomputes old
    signatures or re-reads old text.  ``compact_after=2`` runs the
    self-maintenance path (consolidate + cross-epoch key-dedupe + gc)
    under the gate: decisions are compaction-invariant (test-pinned),
    so the oracle is identical, while the index fan-in stays bounded
    no matter how many triggers the stream has seen."""
    import shutil
    import tempfile

    from tubes_spark.streaming.run import write_ordered_slices

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    conds = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_sincmh_")
    try:
        write_ordered_slices(d, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        idx_dir = f"{tmp}/idx"
        out_dir = f"{tmp}/new"

        def fb(batch_df, epoch_id):
            ep = int(epoch_id)
            if ep == 0:
                new = batch_df  # empty index: everything is new
                dedup.write_minhash_index(batch_df, idx_dir, epoch=0)
            else:
                new = dedup.incremental_minhash_new(
                    batch_df, spark, idx_dir, update_index=True,
                    compact_after=2,
                )
            new.select("doc_id", "source", "n_chars").withColumn(
                "slice", F.lit(ep).cast("int")
            ).write.mode("append").parquet(out_dir)

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(fb)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_dedup_incremental_survivors(spark, sf_dir):
    """The OTHER index-maintenance policy, gated (r11 — first-classing
    ADVICE r10): ``append_scope="survivors"`` appends band rows only
    for docs the check KEPT, so a later batch is rejected only for
    resembling a document actually ingested — no transitive rejection
    through a rejected variant's signatures.  Same three-slice replay
    as streaming_dedup_incremental_minhash; the oracle unrolls the
    survivor recursion across slices (slice-2 collisions count only
    witnesses from slice 0 or SURVIVING slice-1 docs), so wherever the
    two policies disagree on the corpus the value hash pins each to
    its own contract.

    Scale shape per trigger: identical to the "all" policy (the
    survivor filter is the same anti-join the output already computes)
    with a strictly smaller index on dup-heavy streams."""
    import shutil
    import tempfile

    from tubes_spark.streaming.run import write_ordered_slices

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    conds = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_sincsu_")
    try:
        write_ordered_slices(d, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        idx_dir = f"{tmp}/idx"
        out_dir = f"{tmp}/new"

        def fb(batch_df, epoch_id):
            ep = int(epoch_id)
            if ep == 0:
                new = batch_df  # empty index: everything is new
                dedup.write_minhash_index(batch_df, idx_dir, epoch=0)
            else:
                new = dedup.incremental_minhash_new(
                    batch_df,
                    spark,
                    idx_dir,
                    update_index=True,
                    append_scope="survivors",
                )
            new.select("doc_id", "source", "n_chars").withColumn(
                "slice", F.lit(ep).cast("int")
            ).write.mode("append").parquet(out_dir)

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(fb)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def dp_noisy_group_counts(spark, sf_dir):
    """Differentially-private release of grouped counts (Laplace
    mechanism, Dwork et al. 2006) -- the third leg of the governance
    battery beside PII redaction and k-anonymity: each event_type's
    daily-active count is released with Laplace(sensitivity/eps) noise
    and the per-release epsilon is accounted so a budget ledger can sum
    it.  The noise is SEEDED (md5 of the release id + group key) so the
    whole mechanism -- inverse-CDF transform included -- is exactly
    reproducible and value-hash-gated; a production release swaps the
    seed column for a secret drawn once per release and nothing else
    changes.  Sensitivity is 1 (unit contribution per user-day by
    construction: the count is over distinct user-days).

    Float discipline: the uniform is an exact dyadic rational
    (h + 0.5) / 2^20; ln rounded to 6dp; the noisy count rounds once
    more at the end.  Scale shape: one distinct-aggregate shuffle plus
    map-side arithmetic -- the mechanism adds zero distributed cost."""
    EPS = 0.5
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("day"),
    )
    counts = (
        e.select("event_type", "user_id", "day")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_user_days"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp-r9:"), F.col("event_type"))), 1, 5),
        16,
        10,
    ).cast("long")
    u = (h + 0.5) / F.lit(float(1 << 20))  # exact dyadic uniform in (0,1)
    centered = u - 0.5
    noise = F.round(
        -(1.0 / EPS)
        * F.signum(centered)
        * F.round(F.log(1.0 - 2.0 * F.abs(centered)), 6),
        6,
    )
    return counts.select(
        "event_type",
        "n_user_days",
        noise.alias("laplace_noise"),
        F.round(F.col("n_user_days") + noise, 6).alias("released_count"),
        F.lit(EPS).alias("epsilon_spent"),
        F.lit(1).alias("sensitivity"),
    )


def bootstrap_poisson_ci(spark, sf_dir):
    """Uncertainty for corpus metrics by POISSON BOOTSTRAP (Chamandy et
    al., Google 2012) -- the bootstrap that works in one distributed
    pass: instead of resampling n rows with replacement (which needs
    global coordination), each row enters replica b with weight ~
    Poisson(1), computed map-side from a seeded uniform; replica means
    then bound the metric.  Here: mean document length (n_chars) per
    source, B=32 replicas, CI = the 2nd-smallest / 2nd-largest replica
    mean (exact order statistics -- engine-independent, unlike
    interpolated percentiles).  The weight is the exact Poisson(1)
    inverse CDF as a CASE ladder over literal cumulative thresholds,
    and the uniform is the dyadic (md5 + 0.5) / 2^20, so every replica
    is bit-reproducible and the whole estimator value-hash-gates.

    Scale shape: one explode by B on the metric columns only (B*n
    narrow rows), one (source, b) agg, one tiny per-source rank window
    -- no shuffle of the original wide rows, no driver-side resampling."""
    B = 32
    # Poisson(1) cumulative probabilities, k = 0..6 (literal 10dp)
    CUM = [
        0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
        0.9963401532, 0.9994058152, 0.9999167589,
    ]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    reps = d.select(
        "source",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b"),
        "doc_id",
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string")
                )
            ),
            1,
            5,
        ),
        16,
        10,
    ).cast("long")
    u = (h + 0.5) / F.lit(float(1 << 20))
    w = F.lit(7)
    for k in range(len(CUM) - 1, -1, -1):
        w = F.when(u < CUM[k], k).otherwise(w)
    means = (
        reps.withColumn("w", w.cast("long"))
        .groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("sw"),
            F.sum("w").cast("long").alias("nw"),
        )
        .select(
            "source", "b", F.round(F.col("sw") / F.col("nw"), 6).alias("m")
        )
    )
    wr = Window.partitionBy("source").orderBy(F.col("m").asc(), F.col("b").asc())
    ranked = means.select(
        "source", "m", F.row_number().over(wr).alias("rn")
    )
    point = d.groupBy("source").agg(
        F.round(
            F.sum("n_chars").cast("decimal(27,6)").cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("point_mean")
    )
    ci = ranked.groupBy("source").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == B - 1, F.col("m"))).alias("ci_hi"),
    )
    return point.join(ci, "source").select(
        "source",
        "point_mean",
        "ci_lo",
        "ci_hi",
        F.lit(B).alias("b_reps"),
    )


def retrieval_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive retriever training (DPR /
    ANCE recipe): the strongest NON-relevant BM25 hits per query are
    exactly the negatives an embedding model must learn to push away.
    Takes the top-20 BM25 leg from _hybrid_ranked, joins the same
    md5-deterministic judgments as retrieval_eval_metrics, keeps the
    top-5 non-relevant per query, and emits (query, positive_count,
    negative doc, its rank) -- the training-pair manifest a data
    pipeline hands to the trainer.

    Scale shape: reuses the ranked legs (selective index probes);
    label arithmetic is map-side; the per-query cut is a window over
    <= 20 rows.  Everything downstream of the tf scan touches only
    top-k rows."""
    ranked = _hybrid_ranked(spark, sf_dir).filter(F.col("lr") <= 20)
    rel = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("q"),
                        F.col("query_id").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
        == 0
    )
    labeled = ranked.withColumn("rel", rel.cast("int"))
    pos = labeled.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_positives_top20")
    )
    wn = Window.partitionBy("query_id").orderBy(F.col("lr").asc())
    negs = (
        labeled.filter(F.col("rel") == 0)
        .select(
            "query_id",
            "doc_id",
            F.col("lr").alias("bm25_rank"),
            F.row_number().over(wn).alias("neg_rank"),
        )
        .filter(F.col("neg_rank") <= 5)
    )
    return negs.join(F.broadcast(pos), "query_id").select(
        "query_id",
        F.col("neg_rank").cast("int").alias("neg_rank"),
        "doc_id",
        F.col("bm25_rank").cast("int").alias("bm25_rank"),
        "n_positives_top20",
    )


def psi_drift_monitor(spark, sf_dir):
    """Population Stability Index per event_type -- THE production
    drift metric a data-quality monitor computes between a reference
    window and the current one (here: Jan days < 15 vs >= 15), with
    add-half smoothing so empty bins stay finite.  PSI = sum over bins
    of (p_ref - p_cur) * ln(p_ref / p_cur) on the smoothed shares;
    bands at the industry thresholds (< 0.1 stable, < 0.25 moderate,
    else shifted).  The bin lattice is densified (every type x bin x
    period combination present) so the metric is exact, not
    sparse-join-lucky.

    Float discipline: shares are (n + 0.5) / (N + 5.0) -- identical
    IEEE ops on both engines; per-bin contributions rounded to 6dp and
    DECIMAL-summed.  Scale shape: one narrow (type, period, bin)
    count, a broadcast densify, arithmetic -- drift monitoring costs
    one aggregation pass regardless of corpus size."""
    B = 10
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) < 15,
            "ref",
        )
        .otherwise("cur")
        .alias("period"),
        F.least(F.floor(F.col("value") / 25.0), F.lit(9)).cast("int").alias("bin"),
    )
    counts = e.groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    lattice = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(spark.range(B).select(F.col("id").cast("int").alias("bin"))))
    )
    dense = (
        lattice.join(
            counts.filter(F.col("period") == "ref").drop("period"),
            ["event_type", "bin"],
            "left",
        )
        .withColumnRenamed("n", "n_ref")
        .join(
            counts.filter(F.col("period") == "cur").drop("period"),
            ["event_type", "bin"],
            "left",
        )
        .withColumnRenamed("n", "n_cur")
        .fillna(0, subset=["n_ref", "n_cur"])
    )
    totals = dense.groupBy("event_type").agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    j = dense.join(F.broadcast(totals), "event_type")
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 5.0)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 5.0)
    contrib = F.round((p - q) * F.log(p / q), 6)
    out = j.groupBy("event_type").agg(
        F.max("t_ref").alias("n_ref_rows"),
        F.max("t_cur").alias("n_cur_rows"),
        F.round(
            F.sum(contrib.cast("decimal(27,6)")).cast("double"), 6
        ).alias("psi"),
    )
    return out.select(
        "event_type",
        "n_ref_rows",
        "n_cur_rows",
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate")
        .otherwise("shifted")
        .alias("drift_band"),
    )


def pit_feature_join(spark, sf_dir):
    """Point-in-time-correct feature join, bitemporal form -- the
    feature-store op that prevents training-serving skew: each view
    event asks for the user's latest purchase value, but a purchase
    only becomes KNOWN to the serving system one hour after it happens
    (ingestion lag).  The NAIVE as-of join on valid time (what
    actually held) silently trains on information serving never had;
    the PIT join on knowledge time (valid_from + 1h) reproduces
    exactly what was servable.  The query emits both values per view
    plus a leak flag, so the skew surface -- the rows where offline
    training would diverge from online serving -- is value-hash-gated,
    not just documented.

    Scale shape: two union/window as-of passes (joins.asof_join: one
    user_id shuffle each, no range self-join) over the same keyed
    partitioning; the flag is map-side null-safe comparison."""
    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    known = purch.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    naive = joins.asof_join(
        left, purch, on_time="ts", by=["user_id"], right_cols=["value"],
        suffix="_naive", tiebreak="event_id",
    ).select("event_id", "user_id", "ts", F.col("value_naive").alias("naive_value"))
    pit = joins.asof_join(
        left, known, on_time="ts", by=["user_id"], right_cols=["value"],
        suffix="_pit", tiebreak="event_id",
    ).select("event_id", F.col("value_pit").alias("pit_value"))
    return naive.join(pit, "event_id").select(
        "event_id",
        "user_id",
        "naive_value",
        "pit_value",
        (~F.col("naive_value").eqNullSafe(F.col("pit_value")))
        .cast("int")
        .alias("leaked"),
    )


def l_diversity_audit(spark, sf_dir):
    """l-diversity audit of the k-anonymity release (Machanavajjhala
    et al. 2006): k >= 5 group sizes stop re-identification but not the
    HOMOGENEITY attack -- if everyone in a released group shares the
    sensitive value, the attacker learns it without re-identifying
    anyone.  This audits every group k_anonymity_generalize released
    (suppressed rows excluded): the sensitive attribute is the
    customer's LATEST order priority (behavioral, outside the QI set;
    customers without orders audit as 'NONE'), and groups with fewer
    than l = 3 distinct sensitive values are flagged -- those are the
    groups where the release leaks the attribute without
    re-identifying anyone.

    Scale shape: one argmax-per-customer over orders + one narrow join
    of the release on the customer key + one group-by over the
    released QI lattice; audit cost is one aggregation pass.  At the
    smallest test corpus (150 customers) the k=5 ladder suppresses
    every row, so the audit is correctly EMPTY there; sf0.01+ release
    real groups (sf0.01: 178 audited, 9 non-diverse)."""
    L = 3
    rel = k_anonymity_generalize(spark, sf_dir).filter(F.col("level") < 3)
    wlast = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderpriority").alias("cc"),
        )
    )
    sens = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(latest, "c_custkey", "left")
        .fillna("NONE", subset=["cc"])
    )
    return (
        rel.join(sens, "c_custkey")
        .groupBy("level", "qi_geo", "qi_seg", "qi_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.countDistinct("cc").cast("long").alias("distinct_sensitive"),
        )
        .select(
            "level",
            "qi_geo",
            "qi_seg",
            "qi_band",
            "group_size",
            "distinct_sensitive",
            (F.col("distinct_sensitive") >= L).cast("int").alias("l_diverse"),
        )
    )


def compression_ratio_quality(spark, sf_dir):
    """Compression-ratio quality signal (the C4/Gopher curation staple
    the rule battery can't fake): highly compressible text IS
    repetitive text, measured by the codec itself instead of by proxy
    n-gram rules.  zlib level 6 over the UTF-8 bytes; ratio =
    deflate_len / raw_len; docs under 0.35 flagged as repetitive junk,
    over 0.95 flagged as high-entropy (binary-ish / encoded blobs) --
    both tails are what a curation pass drops.

    This is the honest slow-path op: no SQL engine exposes deflate, so
    it runs as Arrow-batched mapInPandas (vectorized transfer, one
    Python pass per batch -- never row-at-a-time UDF) and lands in the
    rows-only battery cohort; exact values are pinned by a brute-force
    pure-python equality test over the full sf0.001 corpus
    (tests/test_round9.py).  Scale shape: embarrassingly parallel map
    over _fan'd batches; output is 4 narrow columns."""
    import pandas as pd  # noqa: F401 (imported for the closure)

    def ratios(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6))).astype(
                "int64"
            )
            ratio = (
                (comp_len / raw_len.where(raw_len > 0, 1)).astype(float).round(6)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw_len,
                    "deflate_len": comp_len,
                    "ratio": ratio,
                }
            )

    d = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    out = d.mapInPandas(
        ratios, schema="doc_id long, raw_len long, deflate_len long, ratio double"
    )
    return out.select(
        "doc_id",
        "raw_len",
        "deflate_len",
        "ratio",
        F.when(F.col("ratio") < 0.35, "repetitive")
        .when(F.col("ratio") > 0.95, "high_entropy")
        .otherwise("normal")
        .alias("band"),
    )


def ann_incremental_semantic_dedup(spark, sf_dir):
    """Incremental SEMANTIC near-dedup against a PERSISTED vector index
    (r11 — the embedding-space sibling of dedup_incremental_minhash,
    completing the index-maintenance suite: MinHash for text, anchor
    cells for vectors).  The embeddings table plus a 20% exact-replica
    pressure (every vec_id%5==0 vector re-arrives as id+100000 — the
    +100000 shifts it into the NEXT vec_id%3 slice, so every replica
    meets its original across a slice boundary) replays as three
    slices: slice 0 bootstraps the index (anchors = its 16 smallest-id
    vectors, cells bucketed on the anchor-argmax cell), each later
    slice is screened ONLY against stored same-cell vectors (SemDeDup's
    within-cluster rule) and appended.  Emits the full verdict ledger —
    (vec_id, slice, cell, is_new, n_prior_hits, best_sim) — all under
    the value-hash oracle gate: cosines fold the 64 dims in index
    order on both engines, so cell assignments, hit counts, and best
    similarities are bit-identical.

    Scale shape: cell assignment is 16 expression-level cosines per
    row (no shuffle, no Python); the screen joins a bucketed index
    FileScan (no Exchange on the index side, tests pin it) against the
    arriving batch's one shuffle; within-cell pairing is the bounded
    quadratic SemDeDup accepts — at 100 TB grow anchors ~ sqrt(N) so
    inverted lists stay flat, and swap anchors for trained k-means
    centroids (write_ann_index docstring) without touching layout or
    maintenance."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = e.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    base = e.unionByName(reps)
    slices = [base.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_ann_idx_")
    try:
        similarity.write_ann_index(slices[0], tmp, n_anchors=16)
        anchors = similarity._read_anchors(tmp)
        # _with_cell: the hoisted-norm SQL kernel, one F.expr
        # construction instead of ~6k py4j round trips
        v0 = similarity._with_cell(slices[0], "embedding", anchors).select(
            "vec_id",
            F.lit(0).cast("int").alias("slice"),
            "cell",
            F.lit(True).alias("is_new"),
            F.lit(0).cast("int").alias("n_prior_hits"),
            F.lit(None).cast("double").alias("best_sim"),
        )
        v1 = similarity.incremental_ann_new(
            slices[1], spark, tmp, threshold=0.9, update_index=True,
            compact_after=1,  # r12: cells-leaf compaction fires UNDER the
            # gate (VERDICT r11 #3) — epochs {0,1} consolidate + gc before
            # slice 2 screens, so a regression in the bucketed-cells
            # branch of compact_atomic_group breaks this oracle; answers
            # are invariant because compaction preserves the cell-row set
        ).withColumn("slice", F.lit(1).cast("int"))
        v2 = similarity.incremental_ann_new(
            slices[2], spark, tmp, threshold=0.9
        ).withColumn("slice", F.lit(2).cast("int"))
        cols = ["vec_id", "slice", "cell", "is_new", "n_prior_hits", "best_sim"]
        out = v0.select(cols).unionByName(v1.select(cols)).unionByName(
            v2.select(cols)
        )
        out = out.localCheckpoint(eager=True)  # pin before the index dir goes
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_kmeans_semantic_dedup(spark, sf_dir):
    """The persisted vector index with a TRAINED anchor codebook (r12,
    VERDICT r11 #1 — the anchor-lifecycle round): anchors come from
    ``kmeans_anchors_decimal`` (2 Lloyd iterations of spherical
    k-means over slice 0) instead of the raw smallest-id bootstrap
    rule, passed through ``write_ann_index(anchors=...)`` — the API
    path the r11 docstring promised but could not perform.  Everything
    stays under the full DuckDB value-hash gate because the trainer is
    decimal-exact: assignment is the ordered-fold cosine argmax both
    engines already compute bit-identically, and the centroid update
    quantizes components to 1e-6 BIGINTs whose sums are exact in any
    order, so the oracle re-derives the trained codebook — then every
    cell id, hit count, and best similarity — bit-for-bit.

    Same 3-slice incremental replay as ``ann_incremental_semantic_dedup``
    (embeddings + 20% exact-replica pressure, replicas shifted one
    slice over), and the slice-1 append runs ``compact_after=1`` so
    the cells-leaf compaction ALSO fires under this gate.  Scale story:
    a trained codebook balances inverted lists where first-batch
    anchors mirror whatever the bootstrap batch happened to contain,
    and the ``anchors=`` parameter is what lets cell count grow
    ~ sqrt(N) with the corpus (SCALE_PROBE ``ann_anchor_scale``
    measures within-cell pair growth under exactly that rule)."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = e.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    base = e.unionByName(reps)
    slices = [base.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_ann_km_")
    try:
        anchors = similarity.kmeans_anchors_decimal(
            slices[0], n_anchors=16, iters=2
        )
        similarity.write_ann_index(slices[0], tmp, anchors=anchors)
        v0 = similarity._with_cell(slices[0], "embedding", anchors).select(
            "vec_id",
            F.lit(0).cast("int").alias("slice"),
            "cell",
            F.lit(True).alias("is_new"),
            F.lit(0).cast("int").alias("n_prior_hits"),
            F.lit(None).cast("double").alias("best_sim"),
        )
        v1 = similarity.incremental_ann_new(
            slices[1], spark, tmp, threshold=0.9, update_index=True,
            compact_after=1,
        ).withColumn("slice", F.lit(1).cast("int"))
        v2 = similarity.incremental_ann_new(
            slices[2], spark, tmp, threshold=0.9
        ).withColumn("slice", F.lit(2).cast("int"))
        cols = ["vec_id", "slice", "cell", "is_new", "n_prior_hits", "best_sim"]
        out = v0.select(cols).unionByName(v1.select(cols)).unionByName(
            v2.select(cols)
        )
        out = out.localCheckpoint(eager=True)  # pin before the index dir goes
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_incremental_survivors(spark, sf_dir):
    """Survivor-anchored appends on the persisted VECTOR index (r12,
    VERDICT r11 #6 — the ANN sibling of the MinHash
    ``append_scope="survivors"`` contract, which r11 proved genuinely
    diverges from greedy-ingest).  Drifted-variant chains make the two
    policies disagree in embedding space too: for every vec_id%7==0
    vector X (with Y the next vector by id), slice 1 arrives with
    B = X + 0.25*Y (near X: cos ~0.97, rejected) and slice 2 with
    C = X + 0.55*Y (near B: cos ~0.97, but only ~0.88 to X).  Under
    greedy-ingest "all" C would be rejected for resembling the
    REJECTED B; under the survivors policy gated here B never enters
    the index, so C is screened against X alone and typically
    survives — tests/test_round12.py pins a concrete disagreement row
    between the two scopes.

    The whole ledger is value-hash-gated: the drift arithmetic is two
    deterministic IEEE double ops per dim reproduced verbatim by the
    oracle, and the oracle unrolls the survivor recursion exactly one
    level (slice 2 screens against slice 0 plus slice 1's no-hit
    rows).  Scale shape identical to the sibling queries: bucketed
    index FileScan, zero index-side Exchange, batch-side single
    shuffle."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    xy = (
        e.alias("x")
        .join(e.alias("y"), F.col("y.vec_id") == F.col("x.vec_id") + 1)
        .filter(F.col("x.vec_id") % 7 == 0)
        .select(
            F.col("x.vec_id").alias("vec_id"),
            F.col("x.embedding").alias("xv"),
            F.col("y.embedding").alias("yv"),
        )
    )

    def drifted(offset: int, t: float) -> DataFrame:
        return xy.select(
            (F.col("vec_id") + F.lit(offset)).alias("vec_id"),
            F.zip_with(
                "xv", "yv", lambda a, b: a + F.lit(float(t)) * b
            ).alias("embedding"),
        )

    s1 = drifted(200000, 0.25)
    s2 = drifted(300000, 0.55)
    tmp = tempfile.mkdtemp(prefix="tubes_ann_sv_")
    try:
        similarity.write_ann_index(e, tmp, n_anchors=16)
        v1 = similarity.incremental_ann_new(
            s1, spark, tmp, threshold=0.9, update_index=True,
            append_scope="survivors",
        ).withColumn("slice", F.lit(1).cast("int"))
        v2 = similarity.incremental_ann_new(
            s2, spark, tmp, threshold=0.9
        ).withColumn("slice", F.lit(2).cast("int"))
        cols = ["vec_id", "slice", "cell", "is_new", "n_prior_hits", "best_sim"]
        out = v1.select(cols).unionByName(v2.select(cols))
        out = out.localCheckpoint(eager=True)  # pin before the index dir goes
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_nprobe_boundary_recall(spark, sf_dir):
    """Multi-probe (IVF nprobe) assignment on the incremental vector
    screen (r12 — the recall arm of the anchor lifecycle): a near-dup
    that STRADDLES a cell boundary is invisible at n_probe=1 by the
    SemDeDup contract; probing the arriving vector's top-2 cells
    recovers it for ~2x candidate pairs, no index change at all.
    Pressure: for every vec_id%5==0 vector X (Y the next by id), the
    midpoint M = X + Y arrives — ~equidistant from X and Y (cos ~0.7),
    whose primary cell usually holds only one of them.  The SAME
    arriving batch is screened at n_probe=1 and n_probe=2 and both
    ledgers are emitted (nprobe column), so the gate pins exactly
    which hits the second probe recovers.  Fully value-hash-gated:
    probe ranking is (cosine DESC, aid ASC) on both engines (a sign
    flip costs no precision), the ledger cell is always the primary.

    Scale shape: candidate pairs scale linearly with n_probe and the
    index side is untouched (same bucketed FileScan, zero index-side
    Exchange); n_probe is the standard IVF recall/cost dial — raise it
    with anchor count so recall survives the sqrt(N) cell growth."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    mid = (
        e.alias("x")
        .join(e.alias("y"), F.col("y.vec_id") == F.col("x.vec_id") + 1)
        .filter(F.col("x.vec_id") % 5 == 0)
        .select(
            (F.col("x.vec_id") + F.lit(400000)).alias("vec_id"),
            F.zip_with(
                "x.embedding", "y.embedding", lambda a, b: a + b
            ).alias("embedding"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="tubes_ann_np_")
    try:
        similarity.write_ann_index(e, tmp, n_anchors=16)
        cols = ["vec_id", "nprobe", "cell", "is_new", "n_prior_hits", "best_sim"]
        v1 = similarity.incremental_ann_new(
            mid, spark, tmp, threshold=0.7
        ).withColumn("nprobe", F.lit(1).cast("int"))
        v2 = similarity.incremental_ann_new(
            mid, spark, tmp, threshold=0.7, n_probe=2
        ).withColumn("nprobe", F.lit(2).cast("int"))
        out = v1.select(cols).unionByName(v2.select(cols))
        out = out.localCheckpoint(eager=True)  # pin before the index dir goes
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_ann_incremental_dedup(spark, sf_dir):
    """The persisted VECTOR index under the REAL streaming engine (r12
    — the embedding-space twin of streaming_dedup_incremental_minhash,
    so both index families now run their full maintenance loop as
    micro-batches): the embeddings-plus-20%-replica corpus replays as
    three vec_id%3 slices; trigger 0 bootstraps the anchor-cell index,
    each later trigger's foreachBatch screens its batch against the
    index built by the PRIOR triggers, emits the batch's verdict
    ledger, and appends its own cell rows as the next committed epoch
    with ``compact_after=2`` — so the cells-leaf consolidation + gc
    path fires inside the drain, exactly like the MinHash twin.
    Decisions are compaction-invariant, so the oracle is the same
    earlier-slice SemDeDup rule the batch sibling gates (shared SQL).

    Scale shape per trigger: |batch| cell assignments (16 fold cosines
    sharing one hoisted norm), one bucketed-index join with zero
    index-side Exchange, one epoch append behind the atomic marker;
    old vectors are never re-read or re-embedded."""
    import shutil
    import tempfile

    from tubes_spark.streaming.run import write_ordered_slices

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = e.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    base = e.unionByName(reps)
    conds = [F.col("vec_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_sannid_")
    try:
        write_ordered_slices(base, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        idx_dir = f"{tmp}/idx"
        out_dir = f"{tmp}/new"

        def fb(batch_df, epoch_id):
            ep = int(epoch_id)
            if ep == 0:
                similarity.write_ann_index(batch_df, idx_dir, n_anchors=16)
                anchors = similarity._read_anchors(idx_dir)
                ledger = similarity._with_cell(
                    batch_df.select("vec_id", "embedding"), "embedding", anchors
                ).select(
                    "vec_id",
                    "cell",
                    F.lit(True).alias("is_new"),
                    F.lit(0).cast("int").alias("n_prior_hits"),
                    F.lit(None).cast("double").alias("best_sim"),
                )
            else:
                ledger = similarity.incremental_ann_new(
                    batch_df, spark, idx_dir, threshold=0.9,
                    update_index=True, compact_after=2,
                )
            ledger.withColumn("slice", F.lit(ep).cast("int")).select(
                "vec_id", "slice", "cell", "is_new", "n_prior_hits", "best_sim"
            ).write.mode("append").parquet(out_dir)

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(fb)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_rebuild_semantic_dedup(spark, sf_dir):
    """The REBUILD arm of the anchor lifecycle under the gate (r13,
    VERDICT r12 #4): anchors are immutable in place, so growing (or
    here, re-sizing) the codebook means ``rebuild_ann_index`` — one
    scan of the stored cells leaf (the corpus is never re-read), a
    fresh ``kmeans_anchors_decimal`` codebook trained on the stored
    vectors, and a bucketed write into a NEW group dir readers switch
    to.  Three oracle-gated phases pin the whole path: phase 1 is the
    pre-rebuild screen (slice 1 vs the 16-anchor bootstrap index,
    appended all-scope), phase 2 is the REBUILT index's cells leaf
    read back from disk — every stored vector re-assigned under the
    freshly trained 8-cell codebook, so a regression anywhere in
    train/write/switch-over changes these rows — and phase 3 screens
    slice 2 against the rebuilt index.  The oracle re-derives the
    trained codebook bit-identically (the decimal k-means CTE
    technique of ``ann_kmeans_semantic_dedup``), so all three phases
    sit under the value-hash gate.

    Scale shape: the rebuild is one index scan + one bucketed write,
    both linear; training is 2 Lloyd passes over the stored leaf.  At
    a real sqrt(N) codebook the assignment inside both train and write
    dispatches to the broadcast-matmul kernel (r13) — here it stays on
    the bit-exact expression kernel because 8, 16 << the threshold.
    tests/test_round13.py pins the switch-over contract: the old dir
    is byte-untouched and the new dir's screen plans zero index-side
    Exchange."""
    import shutil
    import tempfile

    from tubes_spark.sink import Sink

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = e.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    base = e.unionByName(reps)
    slices = [base.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    root = tempfile.mkdtemp(prefix="tubes_ann_rb_")
    old_dir, new_dir = f"{root}/old", f"{root}/new"
    try:
        similarity.write_ann_index(slices[0], old_dir, n_anchors=16)
        v1 = similarity.incremental_ann_new(
            slices[1], spark, old_dir, threshold=0.9, update_index=True
        ).select(
            "vec_id",
            F.lit(1).cast("int").alias("phase"),
            "cell",
            "is_new",
            "n_prior_hits",
            "best_sim",
        )
        v1 = v1.localCheckpoint(eager=True)  # pre-rebuild verdicts, pinned
        similarity.rebuild_ann_index(
            spark, old_dir, new_dir, n_anchors=8, iters=2
        )
        rb = Sink.read_atomic_group(spark, new_dir, "cells").select(
            "vec_id",
            F.lit(2).cast("int").alias("phase"),
            "cell",
            # every stored row was ingested; TRUE (not NULL) keeps the
            # boolean column null-free, which both pandas bridges
            # represent identically
            F.lit(True).alias("is_new"),
            F.lit(0).cast("int").alias("n_prior_hits"),
            F.lit(None).cast("double").alias("best_sim"),
        )
        v2 = similarity.incremental_ann_new(
            slices[2], spark, new_dir, threshold=0.9
        ).select(
            "vec_id",
            F.lit(3).cast("int").alias("phase"),
            "cell",
            "is_new",
            "n_prior_hits",
            "best_sim",
        )
        out = v1.unionByName(rb).unionByName(v2)
        out = out.localCheckpoint(eager=True)  # pin before the dirs go
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def streaming_ann_nprobe_dedup(spark, sf_dir):
    """Multi-probe recall under REAL micro-batch index maintenance
    (r13, VERDICT r12 #6): the streaming ANN twin runs its screens at
    ``n_probe=2``, so boundary-straddling near-dups are recovered
    while the index is being appended and compacted between triggers.
    Pressure: for every vec_id%5==0 vector X (Y the next by id) the
    midpoint M = X + Y joins the corpus at id+400000 — roughly
    equidistant from X and Y (cos ~0.7), so M's primary cell usually
    holds only one of them and the second probe is what finds the
    other.  Replay: three vec_id%3 slices under maxFilesPerTrigger=1;
    trigger 0 bootstraps the 16-anchor index, later triggers screen
    with n_probe=2 at threshold 0.7, append all-scope, and
    ``compact_after=2`` fires the cells-leaf consolidation inside the
    drain.  Fully value-hash-gated: probe ranking is (cosine DESC,
    aid ASC) on both engines; the ledger cell is always the primary;
    compaction never changes decisions.

    Scale shape per trigger: |batch| assignments (one hoisted-norm
    fold under the kernel threshold), candidate pairs ~2x the
    n_probe=1 cost, zero index-side Exchange, one epoch append behind
    the atomic marker."""
    import shutil
    import tempfile

    from tubes_spark.streaming.run import write_ordered_slices

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    mid = (
        e.alias("x")
        .join(e.alias("y"), F.col("y.vec_id") == F.col("x.vec_id") + 1)
        .filter(F.col("x.vec_id") % 5 == 0)
        .select(
            (F.col("x.vec_id") + F.lit(400000)).alias("vec_id"),
            F.zip_with(
                "x.embedding", "y.embedding", lambda a, b: a + b
            ).alias("embedding"),
        )
    )
    base = e.unionByName(mid)
    conds = [F.col("vec_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_sannnp_")
    try:
        write_ordered_slices(base, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        idx_dir = f"{tmp}/idx"
        out_dir = f"{tmp}/new"

        def fb(batch_df, epoch_id):
            ep = int(epoch_id)
            if ep == 0:
                similarity.write_ann_index(batch_df, idx_dir, n_anchors=16)
                anchors = similarity._read_anchors(idx_dir)
                ledger = similarity._with_cell(
                    batch_df.select("vec_id", "embedding"), "embedding", anchors
                ).select(
                    "vec_id",
                    "cell",
                    F.lit(True).alias("is_new"),
                    F.lit(0).cast("int").alias("n_prior_hits"),
                    F.lit(None).cast("double").alias("best_sim"),
                )
            else:
                ledger = similarity.incremental_ann_new(
                    batch_df, spark, idx_dir, threshold=0.7,
                    update_index=True, compact_after=2, n_probe=2,
                )
            ledger.withColumn("slice", F.lit(ep).cast("int")).select(
                "vec_id", "slice", "cell", "is_new", "n_prior_hits", "best_sim"
            ).write.mode("append").parquet(out_dir)

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(fb)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------ round 13: kernel gate + curation

def ann_kernel_parity(spark, sf_dir):
    """The VECTORIZED cell-assignment kernel under the driver gate
    (r13): every other oracle-gated ANN query resolves ``kernel="auto"``
    to the bit-exact expression kernel (they sit under the 128-anchor
    threshold), so a regression in the broadcast-matmul kernel — the
    100 TB path that makes sqrt(N) codebook growth executable
    (VERDICT r12 #1) — would be invisible to the driver, the same gap
    the r12 verdict called out for ``rebuild_ann_index``.  This query
    closes it: the full corpus is assigned by BOTH kernels against the
    same 12 smallest-id anchors, grouped by the VECTORIZED kernel's
    cell, and the per-cell ``n_mismatch`` column counts rows whose
    expression-kernel cell disagrees.  The oracle re-derives the
    expression kernel's assignment (ordered-fold cosine argmax, ties
    toward the smaller anchor id) and pins ``n_mismatch = 0`` — so a
    1-ulp argmax flip in the BLAS path, a broken broadcast, or a
    tiebreak drift all surface as a value-hash failure.

    Scale shape: one broadcast of the (C, dims) anchor matrix, one
    Arrow-batched matmul pass over the corpus (zero shuffle), one
    partial-aggregated groupBy on the cell id.  The expression arm is
    gate-scale-only pressure; production assignment above the
    threshold pays the matmul alone (SCALE_PROBE ``ann_kernel``:
    flat-to-linear in rows at 1024-4096 anchors)."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    boot = e.orderBy("vec_id").limit(12).collect()  # bounded: 12 rows
    anchors = [
        [float(x) for x in r["embedding"]]
        for r in sorted(boot, key=lambda r: r["vec_id"])
    ]
    both = similarity._assign_cells_vectorized(
        similarity._with_cell(e, "embedding", anchors, out_col="cell_expr",
                              kernel="expr"),
        "embedding", anchors, out_col="cell",
    )
    return both.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vec"),
        F.sum((F.col("cell") != F.col("cell_expr")).cast("long")).alias(
            "n_mismatch"
        ),
    )


def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced curation sampling (r13): train the decimal
    spherical k-means codebook (``kmeans_anchors_decimal``, the r12
    trainer both engines re-derive bit-identically), assign every
    embedding its argmax cell, and keep the 5 most-central vectors per
    cell (cosine-to-centroid DESC, vec_id ASC) — per-cluster prototype
    selection, the balanced-across-semantic-space sample a curation
    pipeline draws instead of uniform sampling (which mirrors the
    corpus skew; cf. cluster-based selection in SemDeDup, Abbas et al.
    2023).

    Thin gate wrapper over ``similarity.cluster_prototypes``: at this
    anchor count the dispatch resolves to the sequential-fold score
    expressions both engines compute bit-identically (ranking uses the
    UNROUNDED fold cosine; output rounds to 6 dp), so the sample is
    fully value-hash-gated.  Above the 128-anchor threshold the SAME
    call emits cell + score from one broadcast-matmul pass — the
    100 TB path; parity is test-pinned at gate SFs.

    Scale shape: trainer = bounded corpus scans + exact BIGINT partial
    aggregation; zero-shuffle assignment; one cell-keyed exchange for
    the top-m rank with m * C rows out.  No all-pairs anything."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = similarity.kmeans_anchors_decimal(e, n_anchors=8, iters=2)
    return similarity.cluster_prototypes(e, anchors, m=5)


def hard_negative_mining(spark, sf_dir):
    """Contrastive-training hard-negative mining (r13): for every
    embedding, the most similar vector with a DIFFERENT ``label``
    inside its trained k-means cell — the standard way to mine hard
    negatives for embedding-model training without an all-pairs pass
    (candidates are bucketed by the same codebook the ANN index uses,
    so the candidate set is the cell, not the corpus).  Misses a
    cross-cell negative by construction — the IVF recall trade the
    nprobe dial tunes (``ann_nprobe_boundary_recall``).

    Thin gate wrapper over ``similarity.mine_hard_negatives``: at this
    anchor count the dispatch resolves to the sequential-fold kernels
    both engines compute bit-identically (per-query norm hoisted, one
    dot fold per pair, division tree ``d / (nq * nn)`` matching the
    oracle's ``d / (sqrt(...) * sqrt(...))``), so the whole ledger is
    value-hash-gated.  Above the 128-anchor threshold the SAME call
    dispatches to the broadcast-matmul assignment + per-cell blocked
    matmul mining kernels — the 100 TB path (SCALE_PROBE
    ``hard_neg_scale``); parity is test-pinned at gate SFs.

    Scale shape: one shuffle keyed on the cell (both sides co-located;
    with the persisted index the stored side is ALREADY bucketed on
    cell, zero index-side Exchange), within-cell pair fan-out bounded
    by the largest cell — sqrt(N) codebook growth keeps pairs at
    ~N^1.5/C."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    anchors = similarity.kmeans_anchors_decimal(e, n_anchors=8, iters=2)
    return similarity.mine_hard_negatives(e, anchors)


def index_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining AGAINST the persisted vector index (r13):
    the index stores ``label`` as a leaf payload column
    (``write_ann_index(payload_cols=["label"])``), so mining — like
    the semantic screen — never re-reads the original corpus, and the
    stored side of the join is a bucketed FileScan with zero
    index-side Exchange (plan-pinned in tests/test_round13.py).

    Two phases under one gate: slice 0 bootstraps the index
    (8 smallest-id anchors), phase 1 mines slice 1 against it, slice 1
    is appended (``incremental_ann_new(update_index=True)`` — the
    append must CARRY the label payload, so payload-preserving appends
    are gated here too), and phase 2 mines slice 2 against the grown
    index.  All fold cosines + hoisted norms — bit-identical to the
    oracle, which replays both phases with the earlier-slices rule.

    Scale shape: see ``similarity.index_hard_negatives`` — arriving
    re-aligns on the cell once per phase (tiny side), stored inverted
    lists read in place, candidates are stored-side-only so pairs =
    |arriving| * n_c, held flat by sqrt(N) codebook growth."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    slices = [e.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="tubes_ann_ihn_")
    try:
        similarity.write_ann_index(
            slices[0], tmp, n_anchors=8, payload_cols=["label"]
        )
        cols = ["vec_id", "phase", "label", "cell", "neg_id", "neg_label",
                "neg_sim"]
        p1 = similarity.index_hard_negatives(slices[1], spark, tmp).withColumn(
            "phase", F.lit(1).cast("int")
        )
        p1 = p1.select(cols).localCheckpoint(eager=True)  # before the append
        similarity.incremental_ann_new(
            slices[1], spark, tmp, threshold=0.9, update_index=True
        )
        p2 = similarity.index_hard_negatives(slices[2], spark, tmp).withColumn(
            "phase", F.lit(2).cast("int")
        )
        # pin each phase BEFORE unioning: checkpointing the union of a
        # checkpointed child with a live bucketed-scan child trips a
        # Spark attribute-rewrite bug (NoSuchElementException on the
        # scan's partitioning attribute); two pinned children union
        # trivially, and p2 must be pinned before the dir goes anyway
        p2 = p2.select(cols).localCheckpoint(eager=True)
        return p1.unionByName(p2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def index_topk_search(spark, sf_dir):
    """Top-k retrieval against the persisted vector index (r13): the
    serving path — bootstrap the index on the stored slices
    (vec_id % 3 != 0, label payload in the leaf), then answer the
    query slice (vec_id % 3 == 0) with ``index_topk(k=3, n_probe=2)``.
    Probing 2 cells per query is the recall dial the screen gates
    (`ann_nprobe_boundary_recall`); the global (cosine DESC, match_id
    ASC) rank is bit-identical to the oracle's fold replay.

    Scale shape: pairs scanned = |Q| * n_probe * n_c (inverted lists
    read in place, zero index-side Exchange); the vectorized kernel's
    per-cell local top-k bounds the merge at n_probe*k rows/query."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    stored = e.filter(F.col("vec_id") % 3 != 0)
    tmp = tempfile.mkdtemp(prefix="tubes_ann_topk_")
    try:
        similarity.write_ann_index(
            stored, tmp, n_anchors=8, payload_cols=["label"]
        )
        out = similarity.index_topk(
            e.filter(F.col("vec_id") % 3 == 0), spark, tmp, k=3, n_probe=2
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def index_filtered_topk(spark, sf_dir):
    """METADATA-FILTERED top-k against the persisted index (r13):
    ``stored_filter="label = 1"`` lands on the stored scan BEFORE
    ranking, so every query still gets k true label-1 matches —
    the post-filter-vs-pre-filter distinction that decides whether
    filtered retrieval works at all (post-filtering the unfiltered
    top-k returns a remnant).  Same index bootstrap as
    `index_topk_search`; k=3, single-cell probe."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    stored = e.filter(F.col("vec_id") % 3 != 0)
    tmp = tempfile.mkdtemp(prefix="tubes_ann_ftk_")
    try:
        similarity.write_ann_index(
            stored, tmp, n_anchors=8, payload_cols=["label"]
        )
        out = similarity.index_topk(
            e.filter(F.col("vec_id") % 3 == 0), spark, tmp, k=3,
            stored_filter="label = 1",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_index_topk(spark, sf_dir):
    """The serving path under REAL micro-batch triggers (r13): a
    STATIC payload-carrying index answers a stream of query vectors —
    the production shape where retrieval runs continuously while the
    index is rebuilt/compacted on a slower cadence.  The query slice
    (vec_id % 3 == 0) arrives as two file-replay triggers
    (maxFilesPerTrigger=1); each trigger runs ``index_topk(k=3,
    n_probe=2)`` against the same index, appends its verdicts, and the
    drained union over disjoint query slices IS the batch result —
    so this query shares `index_topk_search`'s oracle verbatim
    (retrieval never mutates the index; trigger boundaries cannot
    change any row).

    Scale shape per trigger: |batch| * n_probe * n_c candidate scans
    against the bucketed leaf, zero index-side Exchange, no state
    store (retrieval is stateless — the index itself is the state)."""
    import shutil
    import tempfile

    from tubes_spark.streaming.run import write_ordered_slices

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    stored = e.filter(F.col("vec_id") % 3 != 0)
    qset = e.filter(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    conds = [F.col("vec_id") % 6 == 0, F.col("vec_id") % 6 == 3]
    tmp = tempfile.mkdtemp(prefix="tubes_stopk_")
    try:
        idx_dir = f"{tmp}/idx"
        out_dir = f"{tmp}/out"
        similarity.write_ann_index(
            stored, idx_dir, n_anchors=8, payload_cols=["label"]
        )
        write_ordered_slices(qset, conds, f"{tmp}/in")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )

        def fb(batch_df, epoch_id):
            similarity.index_topk(
                batch_df, spark, idx_dir, k=3, n_probe=2
            ).write.mode("append").parquet(out_dir)

        from tubes_spark.streaming.run import state_sized_shuffle

        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(fb)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(180)
        return (
            spark.read.parquet(out_dir)
            .select("vec_id", "rank", "match_id", "match_label", "match_sim")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_index_stats(spark, sf_dir):
    """Index observability under the gate (r13): bootstrap the index
    on two corpus slices, append the third as a maintenance epoch, and
    read the per-cell inverted-list histogram (size + id span) from
    the index's own leaf — the operator's view of codebook health
    (fat cells = hub vectors or drift; the retrain signal
    `rebuild_ann_index` answers).  Aggregates span the bootstrap epoch
    AND the appended epoch, so multi-dir stats are what's gated.  The
    oracle replays the assignment rule (anchors = 8 smallest-id
    vectors of the bootstrap slices) over the full corpus."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="tubes_astat_")
    try:
        similarity.write_ann_index(
            e.filter(F.col("vec_id") % 3 != 2), tmp, n_anchors=8
        )
        similarity.incremental_ann_new(
            e.filter(F.col("vec_id") % 3 == 2), spark, tmp,
            threshold=2.0, update_index=True,
        ).count()  # drive the append (threshold 2.0: nothing flagged)
        return similarity.ann_index_stats(spark, tmp).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ann_index_delete(spark, sf_dir):
    """Right-to-be-forgotten on the persisted vector index (r13),
    three screens of ONE probe batch under one gate: the probe is
    every to-be-deleted vector re-arrived at id+500000 with a
    self-match threshold (0.9999), so each phase's verdicts read the
    index's memory of those vectors directly.  Phase 0 (pre-delete):
    every probe matches its stored copy — is_new false.  Phase 1
    (post-`delete_from_ann_index(predicate="vec_id % 7 = 0")`): the
    tombstone anti-join forgets them logically — is_new true unless a
    SURVIVING vector happens to clear the threshold.  Phase 2
    (post-`purge_ann_tombstones`): physically scrubbed, decisions
    identical to phase 1 — the purge is decision-invariant, which is
    exactly what the shared oracle hashes.

    Scale shape: the tombstone side is broadcast (no index-side
    Exchange at any phase); the purge is one bucketed scan + bucketed
    write, the compaction cost class, amortized by batching deletes."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="tubes_anndel_")
    try:
        similarity.write_ann_index(
            e.filter(F.col("vec_id") % 3 != 2), tmp, n_anchors=8
        )
        similarity.incremental_ann_new(
            e.filter(F.col("vec_id") % 3 == 2), spark, tmp,
            threshold=2.0, update_index=True,
        ).count()
        probe = e.filter(F.col("vec_id") % 7 == 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(500000)
        )
        cols = ["vec_id", "phase", "cell", "is_new", "n_prior_hits",
                "best_sim"]

        def screen(phase):
            return (
                similarity.incremental_ann_new(
                    probe, spark, tmp, threshold=0.9999
                )
                .withColumn("phase", F.lit(phase).cast("int"))
                .select(cols)
                .localCheckpoint(eager=True)
            )

        p0 = screen(0)
        similarity.delete_from_ann_index(
            spark, tmp, predicate="vec_id % 7 = 0"
        )
        p1 = screen(1)
        similarity.purge_ann_tombstones(spark, tmp)
        p2 = screen(2)
        return p0.unionByName(p1).unionByName(p2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def index_pq_topk(spark, sf_dir):
    """Top-k serving against the PQ-COMPRESSED persisted index (r13):
    same IVF probe discipline as `index_topk_search` (k=3, n_probe=2),
    but the stored side is ~8 bytes of code per vector instead of a
    256-byte float vector — the 32x index-size trade that makes a
    10^11-vector serving index fit hot storage (Jegou et al. 2011
    IVFADC).  Rows-only by design: the PQ codebooks are float k-means
    (not oracle-derivable); the approximation contract is pinned by
    numpy-replay and recall tests (`tests/test_round13.py`) and the
    candidate-volume law is the measured serving law
    (`SCALE_PROBE .ann_topk_scale`) at ~m bytes per candidate."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="tubes_pqidx_")
    try:
        similarity.write_pq_ann_index(
            e.filter(F.col("vec_id") % 3 != 0), tmp,
            n_anchors=8, m=8, n_codes=16,
        )
        out = similarity.index_topk_pq(
            e.filter(F.col("vec_id") % 3 == 0), spark, tmp, k=3, n_probe=2
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
