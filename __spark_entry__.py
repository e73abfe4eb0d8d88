"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the engine's operator surface (SURVEY.md §2) on
the driver's parquet tables; each SQL-expressible one has a DuckDB
oracle in ``oracle_sql()`` with IDENTICAL output column names/types.
Float-valued computed columns are rounded to 6dp on BOTH sides so the
order-insensitive value-hash is stable across engines.

``events`` (event_id, ts, user_id, event_type, value, props) is the
transcript-shaped stand-in: user_id ≈ conv_id, ts ordering, value ≈ a
numeric per-turn signal.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.functions.timeutil import epoch_seconds
from nuclei_feature_extraction_spark.operators import (
    asof_join,
    asof_join_broadcast,
    sessionize,
    with_rolling,
)
from nuclei_feature_extraction_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
)
from nuclei_feature_extraction_spark.operators.similarity import cosine_topk
from nuclei_feature_extraction_spark.operators.text import (
    with_lang_id,
    with_quality_score,
    with_text_stats,
)

EVENT_ORDER = ("ts", "event_id")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle parity needs UTC epoch math regardless of the host session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _user_window() -> Window:
    return Window.partitionBy("user_id").orderBy(*EVENT_ORDER)


# ---------------------------------------------------------------- events

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sessionize(
        _events(spark, sf_dir),
        conv_col="user_id",
        ts_col="ts",
        order_cols=EVENT_ORDER,
    )
    return df.select("event_id", "user_id", "session_id")


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch == STREAMING through the driver's own gate: the stateful
    streaming sessionizer (applyInPandasWithState,
    streaming/stateful.py) replayed over a deterministic 2-file
    time-split of events — every conversation crosses the micro-batch
    boundary — then hash-checked against the SAME DuckDB oracle as the
    batch ``sessionize`` query. Proves slicing-invariant streaming
    semantics with the gate's own repr-hash, not just pytest."""
    import os
    import tempfile

    from nuclei_feature_extraction_spark.streaming.stateful import (
        streaming_turn_state,
    )

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        # event_id rides as turn_idx: same (ts, event_id) tie-break order
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
    )
    pdf = ev.toPandas().sort_values(["conv_id", "ts", "turn_idx"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't scan NANOS
    cut = pdf["ts"].quantile(0.5)
    tmp = tempfile.mkdtemp(prefix="nfx_stream_gate_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    # time split keeps per-conversation event-time monotone across
    # micro-batches (the stateful operator's replay contract)
    pdf[pdf["ts"] <= cut].to_parquet(os.path.join(src, "p0.parquet"), index=False)
    pdf[pdf["ts"] > cut].to_parquet(os.path.join(src, "p1.parquet"), index=False)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qname = "nfx_sq_" + os.path.basename(tmp).replace("nfx_stream_gate_", "")
    q = (
        streaming_turn_state(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(tmp, "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {qname}").select(
        F.col("turn_idx").cast("long").alias("event_id"),
        F.col("conv_id").cast("long").alias("user_id"),
        "session_id",
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup through the gate: documents replayed in two
    micro-batches with duplicates potentially split across the boundary;
    the surviving DISTINCT TEXT SET must equal DuckDB's (projecting text
    only keeps the check deterministic — which copy of a duplicate wins
    first-arrival is an implementation detail)."""
    import os
    import tempfile

    from nuclei_feature_extraction_spark.streaming.dedup import (
        streaming_dedup_exact,
    )

    import pandas as pd

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pdf = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
    tmp = tempfile.mkdtemp(prefix="nfx_sdedup_gate_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(os.path.join(src, "p0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(os.path.join(src, "p1.parquet"), index=False)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qname = "nfx_sd_" + os.path.basename(tmp).replace("nfx_sdedup_gate_", "")
    q = (
        streaming_dedup_exact(stream, watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(tmp, "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT text FROM {qname}")


def q_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _user_window()
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.round(
            epoch_seconds("ts") - epoch_seconds(F.lag("ts").over(w)), 6
        ).alias("gap_s"),
        F.lag("value", 1).over(w).alias("value_lag1"),
        F.lag("value", 3).over(w).alias("value_lag3"),
        F.lag("event_type", 1).over(w).alias("type_lag1"),
    )


def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_rolling(
        _events(spark, sf_dir),
        "value",
        stats=("mean", "std", "min", "max"),
        rows=10,
        conv_col="user_id",
        order_cols=EVENT_ORDER,
    )
    return df.select(
        "event_id",
        F.round("value_r10_mean", 6).alias("roll_mean"),
        F.round("value_r10_std", 6).alias("roll_std"),
        F.col("value_r10_min").alias("roll_min"),
        F.col("value_r10_max").alias("roll_max"),
    )


def q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_rolling(
        _events(spark, sf_dir),
        "value",
        stats=("mean", "count"),
        seconds=3600,
        conv_col="user_id",
        ts_col="ts",
    )
    return df.select(
        "event_id",
        F.round("value_s3600_mean", 6).alias("roll1h_mean"),
        F.col("value_s3600_count").cast("long").alias("roll1h_count"),
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sessionize(
        _events(spark, sf_dir), conv_col="user_id", order_cols=EVENT_ORDER
    )
    return df.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.max(epoch_seconds("ts")) - F.min(epoch_seconds("ts")), 6
        ).alias("duration_s"),
        F.round(F.avg("value"), 6).alias("mean_value"),
    )


def q_asof_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    side = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("effective_ts"), F.col("value").alias("last_error_value")
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        side,
        on="user_id",
        left_ts="ts",
        right_ts="effective_ts",
    ).select("event_id", "last_error_value")


def q_asof_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    side = (
        ev.filter(F.col("event_type") == "error")
        .orderBy("ts", "event_id")
        .limit(10)
        .select(F.col("ts").alias("effective_ts"), F.col("value").alias("cfg_value"))
    )
    return asof_join_broadcast(
        ev.select("event_id", "ts"), side, left_ts="ts", right_ts="effective_ts"
    ).select("event_id", "cfg_value")


def q_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third physical as-of strategy (cogroup + merge_asof) against the
    SAME DuckDB ASOF oracle as q_asof_error — all three plans must
    agree with the ground truth independently."""
    from nuclei_feature_extraction_spark.operators.asof import (
        asof_join_cogrouped,
    )

    ev = _events(spark, sf_dir)
    side = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("effective_ts"),
        F.col("value").alias("last_error_value"),
    )
    return asof_join_cogrouped(
        ev.select("event_id", "user_id", "ts"),
        side,
        on="user_id",
        left_ts="ts",
        right_ts="effective_ts",
    ).select("event_id", "last_error_value")


def q_asof_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-data RE-STATEMENT through the gate: day-truncated error
    events produce many duplicate (user_id, effective_ts) side rows;
    the join must resolve each to the greatest tie-tuple row with an
    atomic payload (tag and value from the same winner). Oracle =
    dedupe-to-greatest-tag per (user, ts) then ASOF JOIN — provably the
    same semantics."""
    ev = _events(spark, sf_dir)
    side = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("effective_ts"),
        F.col("event_id").cast("string").alias("tag"),
        F.col("value").alias("restated_value"),
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        side,
        on="user_id",
        left_ts="ts",
        right_ts="effective_ts",
        tie_cols=("tag",),
    ).select(
        "event_id",
        F.col("tag").alias("restated_tag"),
        "restated_value",
    )


def q_masked_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    click = F.when(F.col("event_type") == "click", F.col("value"))
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(click).alias("n_clicks"),
        F.round(F.avg(click), 6).alias("click_mean"),
        F.round(F.stddev_pop(click), 6).alias("click_std"),
    )


def q_circular_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    theta = (
        epoch_seconds("ts") % F.lit(86400.0)
    ) / F.lit(86400.0) * F.lit(2.0 * 3.141592653589793)
    deg = F.degrees(F.atan2(F.avg(F.sin(theta)), F.avg(F.cos(theta))))
    return ev.groupBy("user_id").agg(
        F.round((deg + F.lit(360.0)) % F.lit(360.0), 6).alias("tod_circmean_deg")
    )


def q_gabor_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 Gabor quadrature bank (scale × phase grid) on the event value
    signal — modulated trailing mean/std, pure Catalyst."""
    from nuclei_feature_extraction_spark.operators.windows import (
        gabor_rolling_bank,
    )

    ev = _events(spark, sf_dir)
    out = gabor_rolling_bank(
        ev,
        "value",
        windows=(8, 32),
        n_phases=2,
        stats=("mean", "std"),
        conv_col="user_id",
        order_cols=EVENT_ORDER,
    )
    sel = [
        f"value_gabor_w{w}_p{p}_{s}"
        for w in (8, 32)
        for p in range(2)
        for s in ("mean", "std")
    ]
    return out.select(
        "event_id",
        *[(F.round(_nan_to_null(c), 6) + F.lit(0.0)).alias(c) for c in sel],
    )


def q_circular_recentered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 recenter-then-std (circular mean, wrapped deviation, population
    std) per user."""
    from nuclei_feature_extraction_spark.operators.windows import (
        circular_recentered_std,
    )

    ev = _events(spark, sf_dir)
    out = circular_recentered_std(ev, group_col="user_id")
    return (
        out.select(
            "user_id",
            (F.round("tod_circmean_deg", 6) + F.lit(0.0)).alias("circmean_deg"),
            (F.round("tod_recentered_std_deg", 6) + F.lit(0.0)).alias(
                "recentered_std_deg"
            ),
        )
        .distinct()
    )


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", F.col("rank").cast("int").alias("rank"))
    )


def q_run_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = _user_window()
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = ev.withColumn(
        "run_id",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_run = runs.groupBy("user_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    # One extra rollup through (user_id, run_len) counts gives EVERY
    # stat — n_runs = Σc, mean = Σ(len·c)/Σc, lre = Σ(len²·c)/Σc,
    # RLN = Σc²/Σc — with no join and all-integer numerators (the
    # cross-engine repr-hash is summation-order-safe)
    lc = per_run.groupBy("user_id", "run_len").agg(F.count(F.lit(1)).alias("c"))
    return lc.groupBy("user_id").agg(
        F.sum("c").alias("n_runs"),
        F.round(
            F.sum(F.col("run_len") * F.col("c")).cast("double") / F.sum("c"), 6
        ).alias("mean_run_len"),
        F.max("run_len").alias("max_run_len"),
        F.round(
            F.sum(F.col("c") * F.col("c")).cast("double") / F.sum("c"), 6
        ).alias("rln"),
        F.round(
            F.sum(F.col("run_len") * F.col("run_len") * F.col("c")).cast("double")
            / F.sum("c"), 6
        ).alias("lre"),
    )


def q_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = _user_window()
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_event_type_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )



def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day bucket) — grouping-set breadth
    (absent in the reference, free in both engines)."""
    ev = _events(spark, sf_dir).withColumn(
        "hour_bucket", (F.hour("ts") / 6).cast("int")
    )
    return (
        ev.cube("event_type", "hour_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )



def q_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/analytic window functions (§2.6 breadth)."""
    ev = _events(spark, sf_dir)
    w = _user_window()
    return ev.select(
        "event_id",
        F.row_number().over(w).cast("int").alias("rn"),
        F.dense_rank().over(w).cast("int").alias("drank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT set operators."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    errors = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    click_only = clicks.subtract(errors).withColumn("tag", F.lit("click_only"))
    both = clicks.intersect(errors).withColumn("tag", F.lit("both"))
    return click_only.unionByName(both)


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/date/JSON functions (§2.6): JSON path extraction,
    date parts, formatting, regex, concat."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.to_date("ts").alias("day"),
        F.weekday("ts").cast("int").alias("wd"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
        F.upper(F.substring("event_type", 1, 3)).alias("t3"),
        F.concat_ws("#", "event_type", F.col("user_id").cast("string")).alias("tkey"),
        F.regexp_extract("props", r"(\d+)", 1).alias("k_re"),
    )


# ------------------------------------------------------------- documents

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_documents(spark, sf_dir)).select(
        "doc_id", F.col("dup_group_size").cast("long").alias("dup_group_size"), "is_canonical"
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_text_stats(_documents(spark, sf_dir)).select(
        "doc_id", "n_tokens", "punct_count", "punct_ratio", "avg_token_len"
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_quality_score(_documents(spark, sf_dir)).select(
        "doc_id", "stopword_ratio", "quality_score"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_lang_id(_documents(spark, sf_dir)).select("doc_id", "lang_pred")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals, pure HOF expressions."""
    from nuclei_feature_extraction_spark.operators.text import (
        with_repetition_stats,
    )

    return with_repetition_stats(_documents(spark, sf_dir)).select(
        "doc_id", "dup_word_frac", "top_word_frac", "top_bigram_frac"
    )


# ------------------------------------------------------------ embeddings

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(emb, list(qvec), k=5)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in its EXHAUSTIVE configuration (nprobe == n_centroids):
    every inverted list is probed, so the result must equal the exact
    brute-force top-k — an oracle for the full IVF machinery
    (assignment, probing, re-rank) rather than for a recall guess."""
    from nuclei_feature_extraction_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=8
    ).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "sim"
    )




def _nan_to_null(c):
    col = F.col(c) if isinstance(c, str) else c
    return F.when(~F.isnan(col), col)


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt events into the transcript shape so the prefix kernels run
    on driver-provided data with a DuckDB-checkable derivation: the
    text-length signal is reconstructed as repeat('x', floor(value*10))."""
    ev = _events(spark, sf_dir)
    w = _user_window()
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.expr("repeat('x', cast(greatest(floor(value * 10), 0) as int))").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
        "event_id",
    )


def q_prefix_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix Haralick subset (lag 1, 4 levels) through the REAL kernel
    (mapInPandas incremental path), oracle-checked against an
    independent pure-SQL implementation of the same cumulative math.

    Only stats with exact-integer accumulators are exposed here (their
    doubles are bit-identical across engines); float-accumulated stats
    (idm/entropies) are verified by the numpy oracle in pytest instead
    — cross-engine summation order would flip 6dp rounding boundaries."""
    from nuclei_feature_extraction_spark.functions.kernels import prefix_features

    tr = _events_as_transcripts(spark, sf_dir)
    feats = prefix_features(tr, families=("cooc",), lags=(1,), levels=(4,))
    keyed = tr.select("conv_id", "turn_idx", "event_id").join(
        feats, on=["conv_id", "turn_idx"]
    )
    sel = {
        "cooc_contrast_d1_k4": "cooc_contrast",
        "cooc_dissimilarity_d1_k4": "cooc_dissimilarity",
        "cooc_sum_average_d1_k4": "cooc_sum_average",
        "cooc_correlation_d1_k4": "cooc_correlation",
        "cooc_sum_of_squares_d1_k4": "cooc_sum_of_squares",
    }
    # `+ 0.0` after rounding normalizes IEEE -0.0 → +0.0 (DuckDB rounds
    # tiny negatives to -0.0, Spark to 0.0; equal under == but not as
    # hashed bytes — the round-1 red row). Same normalization in the SQL.
    return keyed.select(
        "event_id",
        *[
            (F.round(_nan_to_null(src), 6) + F.lit(0.0)).alias(dst)
            for src, dst in sel.items()
        ],
    )


_COOC_FULL_LAGS = (1, 2, 3, 5)
_COOC_FULL_LEVELS = (4, 8, 16, 32)
_COOC_FULL_STATS = (
    ("contrast", "contrast"),
    ("dissimilarity", "dissim"),
    ("sum_average", "sumavg"),
    ("correlation", "corr"),
    ("sum_of_squares", "sos"),
)


def q_prefix_cooc_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REFERENCE-SCALE co-occurrence grid (texture.rs:19-20:
    d ∈ {1,2,3,5} × K ∈ {4,8,16,32} — 16 GLCM cells) through the real
    incremental kernel in ONE pass, all 5 exact-accumulator stats per
    cell = 80 oracle-hashed columns. Evidence that the O(n) prefix
    identities hold at the full grid the reference ships, not just the
    (1,4) cell."""
    from nuclei_feature_extraction_spark.functions.kernels import prefix_features

    tr = _events_as_transcripts(spark, sf_dir)
    feats = prefix_features(
        tr, families=("cooc",), lags=_COOC_FULL_LAGS, levels=_COOC_FULL_LEVELS
    )
    keyed = tr.select("conv_id", "turn_idx", "event_id").join(
        feats, on=["conv_id", "turn_idx"]
    )
    cols = []
    for k in _COOC_FULL_LEVELS:
        for d in _COOC_FULL_LAGS:
            for stat, _ in _COOC_FULL_STATS:
                nm = f"cooc_{stat}_d{d}_k{k}"
                cols.append((F.round(_nan_to_null(nm), 6) + F.lit(0.0)).alias(nm))
    return keyed.select("event_id", *cols)


def _prefix_cooc_full_sql() -> str:
    """Generate the DuckDB twin of q_prefix_cooc_full: the same
    cumulative integer-accumulator math per (d, k) cell, one windowed
    frame, 16 cells × (1 count + 5 sums)."""
    lev_cols = ",\n              ".join(
        f"least({k - 1}, greatest(0, CAST(floor(ln(1.0 + greatest(floor(value * 10.0), 0)) / ln(4097.0) * {k}) AS INT))) AS lev{k}"
        for k in _COOC_FULL_LEVELS
    )
    tr_cols = ",\n              ".join(
        f"lag(lev{k}, {d}) OVER w AS i_d{d}_k{k}"
        for k in _COOC_FULL_LEVELS
        for d in _COOC_FULL_LAGS
    )
    c_cols, sel = [], []
    for k in _COOC_FULL_LEVELS:
        for d in _COOC_FULL_LAGS:
            i, j, p = f"i_d{d}_k{k}", f"lev{k}", f"d{d}_k{k}"
            c_cols += [
                f"SUM(CASE WHEN {i} IS NULL THEN 0 ELSE 2 END) OVER wf AS s_{p}",
                f"SUM(CASE WHEN {i} IS NULL THEN 0.0 ELSE 2.0*({i}-{j})*({i}-{j}) END) OVER wf AS con_{p}",
                f"SUM(CASE WHEN {i} IS NULL THEN 0.0 ELSE 2.0*abs({i}-{j}) END) OVER wf AS dis_{p}",
                f"SUM(CASE WHEN {i} IS NULL THEN 0.0 ELSE 1.0*({i}+{j}) END) OVER wf AS mu_{p}",
                f"SUM(CASE WHEN {i} IS NULL THEN 0.0 ELSE 1.0*({i}*{i}+{j}*{j}) END) OVER wf AS m2_{p}",
                f"SUM(CASE WHEN {i} IS NULL THEN 0.0 ELSE 2.0*{i}*{j} END) OVER wf AS eij_{p}",
            ]
            sel += [
                f"round(CASE WHEN s_{p} > 0 THEN con_{p}/s_{p} END, 6) + 0.0 AS cooc_contrast_d{d}_k{k}",
                f"round(CASE WHEN s_{p} > 0 THEN dis_{p}/s_{p} END, 6) + 0.0 AS cooc_dissimilarity_d{d}_k{k}",
                f"round(CASE WHEN s_{p} > 0 THEN 2.0*mu_{p}/s_{p} END, 6) + 0.0 AS cooc_sum_average_d{d}_k{k}",
                f"round(CASE WHEN s_{p} > 0 AND (m2_{p}/s_{p} - (mu_{p}/s_{p})*(mu_{p}/s_{p})) > 1e-9 "
                f"THEN (eij_{p}/s_{p} - (mu_{p}/s_{p})*(mu_{p}/s_{p})) "
                f"/ (m2_{p}/s_{p} - (mu_{p}/s_{p})*(mu_{p}/s_{p})) END, 6) + 0.0 AS cooc_correlation_d{d}_k{k}",
                f"round(CASE WHEN s_{p} > 0 THEN m2_{p}/s_{p} - (mu_{p}/s_{p})*(mu_{p}/s_{p}) END, 6) + 0.0 AS cooc_sum_of_squares_d{d}_k{k}",
            ]
    nl = ",\n              "
    return f"""
            WITH lv AS (
              SELECT event_id, user_id, ts,
              {lev_cols}
              FROM events
            ), tr AS (
              SELECT *,
              {tr_cols}
              FROM lv WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), c AS (
              SELECT event_id,
              {nl.join(c_cols)}
              FROM tr
              WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id,
              {nl.join(sel)}
            FROM c
        """


def q_prefix_xcooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-signal prefix co-occurrence (the 2-D direction analog of
    texture.rs:19's image offsets) through the real kernel: pair
    (event_type_{t-1}, value_level_t) per user — "what happened last ×
    how big is this". Event types ride in as role strings so the kernel
    path is the production one (role lag-d × tlen level). Only
    exact-integer-accumulator stats are oracle-hashed; entropy/hx/hy/mi
    are pytest-allclose-verified (float accumulation order differs
    across engines)."""
    from nuclei_feature_extraction_spark.functions.kernels import prefix_features

    ev = _events(spark, sf_dir)
    w = _user_window()
    tr = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        # event_type → the kernel's role axis (ROLE_IDX order), so
        # a = {click:0, error:1, purchase:2, signup:3, view:4}
        F.expr(
            "CASE event_type WHEN 'click' THEN 'user' "
            "WHEN 'error' THEN 'assistant' WHEN 'purchase' THEN 'tool' "
            "WHEN 'signup' THEN 'system' ELSE 'other' END"
        ).alias("role"),
        F.expr("repeat('x', cast(greatest(floor(value * 10), 0) as int))").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
        "event_id",
    )
    feats = prefix_features(tr, families=("xcooc",), lags=(1,), levels=(4,))
    keyed = tr.select("conv_id", "turn_idx", "event_id").join(
        feats, on=["conv_id", "turn_idx"]
    )
    sel = [
        "contrast", "dissimilarity", "mean_a", "mean_b", "correlation", "asm",
    ]
    return keyed.select(
        "event_id",
        *[
            (F.round(_nan_to_null(f"xcooc_{st}_d1"), 6) + F.lit(0.0)).alias(
                f"xcooc_{st}"
            )
            for st in sel
        ],
    )


def q_prefix_runlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix run-length stats (tlen level-4 stream) through the real
    kernel, vs an independent SQL window implementation."""
    from nuclei_feature_extraction_spark.functions.kernels import prefix_features

    tr = _events_as_transcripts(spark, sf_dir)
    feats = prefix_features(tr, families=("runlen",))
    keyed = tr.select("conv_id", "turn_idx", "event_id").join(
        feats, on=["conv_id", "turn_idx"]
    )
    sel = {
        "runlen_n_runs_tlen4": "rl_n_runs",
        "runlen_rp_tlen4": "rl_rp",
        "runlen_mean_len_tlen4": "rl_mean_len",
        "runlen_lre_tlen4": "rl_lre",
        "runlen_gln_tlen4": "rl_gln",
        "runlen_hgre_tlen4": "rl_hgre",
        # round-3 GLRLM completion — only stats whose accumulators are
        # exact in float64 regardless of summation order (integers /
        # quarter-integers) are exposed to the cross-engine repr-hash;
        # the float-ordered emphases (sre/srlge/…) are allclose-pinned
        # against the numpy oracle in tests/test_kernels.py instead.
        "runlen_rlvar_tlen4": "rl_rlvar",
        "runlen_rln_tlen4": "rl_rln",
        "runlen_lrhge_tlen4": "rl_lrhge",
        "runlen_lrege_tlen4": "rl_lrege",
    }
    return keyed.select(
        "event_id",
        F.col("runlen_n_runs_tlen4").cast("long").alias("rl_n_runs"),
        *[
            (F.round(_nan_to_null(src), 6) + F.lit(0.0)).alias(dst)
            for src, dst in sel.items()
            if dst != "rl_n_runs"
        ],
    )


def _events_as_role_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → transcript shape with VARYING roles (event_type → role,
    the q_prefix_xcooc mapping) so role-dependent features are
    non-trivial; text-length signal from value as elsewhere."""
    ev = _events(spark, sf_dir)
    w = _user_window()
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.expr(
            "CASE event_type WHEN 'click' THEN 'user' "
            "WHEN 'error' THEN 'assistant' WHEN 'purchase' THEN 'tool' "
            "WHEN 'signup' THEN 'system' ELSE 'other' END"
        ).alias("role"),
        F.expr("repeat('x', cast(greatest(floor(value * 10), 0) as int))").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
        "event_id",
    )


def _replay_stream(
    spark: SparkSession, tr: DataFrame, op, prefix: str, split=None,
    flush_sentinels: int = 0,
):
    """Deterministic 2-micro-batch replay harness for the streaming gate
    queries: write the transcript rows as two parquet files split at the
    median ts (per-conversation event-time stays monotone across the
    micro-batch boundary — the stateful operators' replay contract),
    stream them file-per-trigger through ``op``, and return the memory
    sink's content joined back to (conv_id, turn_idx) → event_id.

    ``split``: optional ``pdf -> boolean mask`` choosing each row's file
    (True → p0, the FIRST micro-batch) — the late-row gate query uses it
    to put each conversation's LATER half in batch 0 so batch 1 arrives
    entirely behind the high-water mark.

    ``flush_sentinels``: push N far-future single-row micro-batches
    (conv_id ``~flush``) after the real files — each advances the
    event-time watermark and fires the stateful operators' timeouts, so
    a ``late_policy='buffer'`` query releases everything it is holding.
    Sentinel rows never join back (no such conv in ``tr``)."""
    import tempfile

    import numpy as np
    import pandas as pd

    pdf = tr.toPandas().sort_values(["conv_id", "ts", "turn_idx"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't scan NANOS
    # all-null object columns (tool) must keep a string arrow type
    for c in ("role", "text", "tool"):
        if c in pdf.columns:
            pdf[c] = pdf[c].astype("string")
    first = (
        pdf["ts"] <= pdf["ts"].quantile(0.5) if split is None else split(pdf)
    )
    tmp = tempfile.mkdtemp(prefix=f"nfx_{prefix}_gate_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    cols = [c for c in pdf.columns if c != "event_id"]
    pdf.loc[first, cols].to_parquet(
        os.path.join(src, "p0.parquet"), index=False
    )
    pdf.loc[~first, cols].to_parquet(
        os.path.join(src, "p1.parquet"), index=False
    )
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qname = f"nfx_{prefix}_" + os.path.basename(tmp).rsplit("_", 1)[-1]
    q = (
        op(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(tmp, "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        far = pdf["ts"].max()
        for i in range(flush_sentinels):
            sent = pdf.iloc[:1].copy()
            sent["conv_id"] = "~flush"
            sent["turn_idx"] = np.array([i], dtype=pdf["turn_idx"].dtype)
            if "tool" in sent.columns:
                sent["tool"] = pd.Series(
                    ["flush"], index=sent.index, dtype="string"
                )
            sent["ts"] = pd.Series(
                [far + pd.Timedelta(days=30 * (i + 1))], index=sent.index
            ).astype("datetime64[us]")
            sent[cols].to_parquet(
                os.path.join(src, f"sentinel{i}.parquet"), index=False
            )
            q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(f"SELECT * FROM {qname}")
    key = tr.select("conv_id", "turn_idx", "event_id")
    return key.join(out, on=["conv_id", "turn_idx"])


_RL_GATE_SEL = {
    "runlen_rp_tlen4": "rl_rp",
    "runlen_mean_len_tlen4": "rl_mean_len",
    "runlen_lre_tlen4": "rl_lre",
    "runlen_gln_tlen4": "rl_gln",
    "runlen_hgre_tlen4": "rl_hgre",
    "runlen_rlvar_tlen4": "rl_rlvar",
    "runlen_rln_tlen4": "rl_rln",
    "runlen_lrhge_tlen4": "rl_lrhge",
    "runlen_lrege_tlen4": "rl_lrege",
}


def q_streaming_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING prefix-kernel stack (all four families: cooc,
    xcooc, runlen — shape is pytest-allclose) through the driver's own
    gate: events replayed in two micro-batches with every conversation
    crossing the boundary, hash-checked against the SAME DuckDB oracles
    as the batch prefix queries. Streaming runs the batch kernels
    (functions/kernels.py) with carried per-conversation state, and the
    exposed stats read only exact-integer accumulators, so the doubles
    are bit-identical across batch, streaming and DuckDB."""
    from nuclei_feature_extraction_spark.streaming.features import (
        streaming_prefix_features,
    )

    tr = _events_as_role_transcripts(spark, sf_dir)
    keyed = _replay_stream(spark, tr, streaming_prefix_features, "sprefix")
    return _streaming_prefix_gate_select(keyed)


def _streaming_prefix_gate_select(keyed: DataFrame) -> DataFrame:
    """The exact-accumulator column set the streaming prefix gate
    queries expose (shared by the in-order and late-drop replays)."""
    cooc_sel = {
        "cooc_contrast_d1_k4": "cooc_contrast",
        "cooc_dissimilarity_d1_k4": "cooc_dissimilarity",
        "cooc_sum_average_d1_k4": "cooc_sum_average",
        "cooc_correlation_d1_k4": "cooc_correlation",
        "cooc_sum_of_squares_d1_k4": "cooc_sum_of_squares",
    }
    xc_sel = [
        "contrast", "dissimilarity", "mean_a", "mean_b", "correlation", "asm",
    ]
    return keyed.select(
        "event_id",
        *[
            (F.round(_nan_to_null(src), 6) + F.lit(0.0)).alias(dst)
            for src, dst in cooc_sel.items()
        ],
        *[
            (F.round(_nan_to_null(f"xcooc_{st}_d1"), 6) + F.lit(0.0)).alias(
                f"xcooc_{st}"
            )
            for st in xc_sel
        ],
        F.col("runlen_n_runs_tlen4").cast("long").alias("rl_n_runs"),
        *[
            (F.round(_nan_to_null(src), 6) + F.lit(0.0)).alias(dst)
            for src, dst in _RL_GATE_SEL.items()
        ],
    )


def q_streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming out-of-order contract through the driver gate:
    micro-batch 0 carries each conversation's LATER half, micro-batch 1
    its earlier half — so every batch-1 row arrives behind the
    per-conversation (ts, turn_idx) high-water mark and
    ``late_policy='drop'`` must skip EXACTLY those rows while the
    accepted rows' prefix features stay bit-identical to a batch run
    over the accepted set (the DuckDB oracle recomputes the same
    prefix stats over only each user's later half). Pins
    dropped-not-corrupted: any state pollution by a late row, or any
    over-drop, breaks the value hash."""
    from nuclei_feature_extraction_spark.streaming.features import (
        streaming_prefix_features,
    )

    tr = _events_as_role_transcripts(spark, sf_dir)
    keyed = _replay_stream(
        spark,
        tr,
        lambda s: streaming_prefix_features(s, late_policy="drop"),
        "slatedrop",
        split=_later_half_first,
    )
    return _streaming_prefix_gate_select(keyed)


def _later_half_first(pdf):
    """Out-of-order replay mask: each conversation's LATER half goes to
    micro-batch 0, so every batch-1 row arrives behind the state
    high-water mark (shared by the late-drop and buffer gate queries)."""
    cc = pdf.groupby("conv_id").cumcount()
    size = pdf.groupby("conv_id")["turn_idx"].transform("size")
    return (cc >= size // 2).to_numpy()


def q_streaming_late_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked reorder buffer (``late_policy='buffer'``) through
    the driver gate: the SAME out-of-order replay as streaming_late_drop
    (later half first), but instead of dropping the late rows the
    operator holds them in state until the event-time watermark passes,
    then merges them in (ts, turn_idx) order — so the output over ALL
    rows must be bit-identical to the in-order batch run, and the oracle
    is exactly streaming_prefix's full-data DuckDB SQL. Two far-future
    sentinel pushes advance the watermark to flush the held state."""
    from nuclei_feature_extraction_spark.streaming.features import (
        streaming_prefix_features,
    )

    tr = _events_as_role_transcripts(spark, sf_dir)
    keyed = _replay_stream(
        spark,
        tr,
        lambda s: streaming_prefix_features(
            s, late_policy="buffer", watermark_delay="7 days"
        ),
        "slatebuf",
        split=_later_half_first,
        flush_sentinels=2,
    )
    return _streaming_prefix_gate_select(keyed)


def q_streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING window stack (sessionize + lags + rolling mean/std/
    min/max + masked assistant stats; the last-64-rows-tail state in
    streaming/windows.py) through the driver gate across a micro-batch
    split. Exposed columns are the ones with exact integer accumulators
    (tlen is integer-valued): rolling sums/counts/extrema are
    order-independent in float64, and the mean/std expression trees are
    replicated verbatim in the oracle SQL. The trig-weighted features
    (circmean, gabor) stay pytest-allclose-pinned — float accumulation
    order differs across engines."""
    from nuclei_feature_extraction_spark.streaming.windows import (
        streaming_window_features,
    )

    tr = _events_as_role_transcripts(spark, sf_dir).drop("tool")
    keyed = _replay_stream(spark, tr, streaming_window_features, "swin")
    return _streaming_windows_gate_select(keyed)


def _streaming_windows_gate_select(keyed: DataFrame) -> DataFrame:
    """The exact-accumulator column set the streaming window gate
    queries expose (shared by the in-order and buffered replays)."""
    float_cols = [
        "tlen_lag1", "tlen_lag2", "tlen_lag3",
        "tlen_r20_mean", "tlen_r20_std", "tlen_r20_min", "tlen_r20_max",
        "tlen_asst_r20_mean", "tlen_asst_r20_std",
    ]
    return keyed.select(
        "event_id",
        F.col("session_id").cast("int").alias("session_id"),
        "role_lag1", "role_lag2", "role_lag3",
        *[
            (F.round(_nan_to_null(c), 6) + F.lit(0.0)).alias(c)
            for c in float_cols
        ],
    )


def q_streaming_windows_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-stack twin of streaming_late_buffer: out-of-order
    replay (later half first) under ``late_policy='buffer'`` — the
    watermarked reorder buffer must restore exact batch parity for the
    sessionize/lag/rolling/masked stack too (session boundaries and lag
    chains are order-SENSITIVE, so any row accepted out of order breaks
    the session_id/lag hash). Oracle = streaming_windows' full-data SQL
    verbatim."""
    from nuclei_feature_extraction_spark.streaming.windows import (
        streaming_window_features,
    )

    tr = _events_as_role_transcripts(spark, sf_dir).drop("tool")
    keyed = _replay_stream(
        spark,
        tr,
        lambda s: streaming_window_features(
            s, late_policy="buffer", watermark_delay="7 days"
        ),
        "swinbuf",
        split=_later_half_first,
        flush_sentinels=2,
    )
    return _streaming_windows_gate_select(keyed)


# ------------------------- dedup/similarity: exact-verified emissions
#
# Each query emits a deterministic, engine-independent VERIFIED set
# (exact n-gram Jaccard / exact cosine above a threshold) rather than a
# hash-dependent candidate list, so a DuckDB all-pairs oracle checks it
# value-for-value. The LSH stages still run inside the Spark plans
# (candidates must be a superset of the truth at these thresholds —
# the planted sf0.01 dups sit at J ≥ 0.9 vs background < 0.15).

_JACCARD_TAU = 0.8


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates → exact shingle-Jaccard verify ≥ τ."""
    from nuclei_feature_extraction_spark.operators.dedup import ngram_jaccard_verify

    docs = _documents(spark, sf_dir)
    cands = minhash_lsh_pairs(docs).select("id_a", "id_b")
    return (
        ngram_jaccard_verify(docs, cands)
        .filter(F.col("jaccard") >= _JACCARD_TAU)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded candidates → exact shingle-Jaccard verify ≥ τ."""
    from nuclei_feature_extraction_spark.operators.dedup import ngram_jaccard_verify

    docs = _documents(spark, sf_dir)
    # 8-bit bands → 8 bands → pigeonhole-exact recall for hamming ≤ 7
    # (the planted sf0.01 dups all sit at hamming ≤ 5)
    cands = simhash_near_dup_pairs(docs, max_hamming=7, band_bits=8).select(
        "id_a", "id_b"
    )
    return (
        ngram_jaccard_verify(docs, cands)
        .filter(F.col("jaccard") >= _JACCARD_TAU)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ τ via the shingle inverted
    index — no hashing anywhere; the ground-truth operator itself."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        ngram_jaccard_all_pairs,
    )

    return ngram_jaccard_all_pairs(
        _documents(spark, sf_dir), threshold=_JACCARD_TAU
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup group formation: exact-Jaccard pairs → connected
    components → per-doc group id/size/canonical flag."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        dup_groups,
        ngram_jaccard_all_pairs,
    )

    docs = _documents(spark, sf_dir)
    pairs = ngram_jaccard_all_pairs(docs, threshold=_JACCARD_TAU)
    return dup_groups(docs, pairs).select(
        "doc_id",
        "dup_group_id",
        F.col("dup_group_size").cast("long").alias("dup_group_size"),
        "is_canonical",
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 20 == 0 play the
    benchmark/eval set; every other doc's distinct-3-shingle overlap
    with the benchmark union is computed — integer counts + exact-ratio,
    fully oracle-checkable."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        ngram_contamination,
    )

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(corpus, bench, threshold=0.5).select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hit").cast("long").alias("n_hit"),
        "contamination",
        "is_contaminated",
    )


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic engine-reproducible train/val/test assignment —
    the md5-hex-bucket mechanism must yield IDENTICAL per-row labels in
    DuckDB (the whole point: auditable outside Spark)."""
    from nuclei_feature_extraction_spark.operators.sampling import with_split

    docs = _documents(spark, sf_dir)
    return with_split(docs, id_col="doc_id", seed="s0").select("doc_id", "split")


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing: per-shard token offsets and
    pack assignment — all-integer arithmetic, row-exact in DuckDB."""
    from nuclei_feature_extraction_spark.operators.sampling import (
        pack_documents,
    )

    docs = _documents(spark, sf_dir)
    return pack_documents(docs, budget=512, n_shard_hex=1).select(
        "doc_id", "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs embedding cosine ≥ τ via blocked matmul (the
    verify baseline; the LSH candidate path is pytest-verified on
    planted perturbations where recall is provable)."""
    from nuclei_feature_extraction_spark.operators.similarity import (
        cosine_all_pairs_exact,
    )

    # synthetic embeddings are near-orthogonal (max off-diag cosine
    # ~0.51); τ=0.44 keeps a small non-trivial truth set (22 pairs)
    return cosine_all_pairs_exact(_embeddings(spark, sf_dir), threshold=0.44)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full point-in-time feature pass over sf0.001 events —
    sessionize + lag/rolling window features + per-user as-of backfill
    of the last error, one shuffle on user_id end-to-end."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _events(spark, sf_dir)
    df = sessionize(ev, conv_col="user_id", order_cols=EVENT_ORDER)
    w = _user_window()
    df = df.withColumn("gap_s", epoch_seconds("ts") - epoch_seconds(F.lag("ts").over(w)))
    df = with_rolling(
        df, "value", stats=("mean", "std"), rows=10,
        conv_col="user_id", order_cols=EVENT_ORDER,
    )
    side = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("effective_ts"), F.col("value").alias("last_error_value")
    )
    return asof_join(df, side, on="user_id", left_ts="ts", right_ts="effective_ts")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sessionize": q_sessionize,
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_dedup": q_streaming_dedup,
        "streaming_prefix": q_streaming_prefix,
        "streaming_windows": q_streaming_windows,
        "streaming_windows_buffer": q_streaming_windows_buffer,
        "streaming_late_drop": q_streaming_late_drop,
        "streaming_late_buffer": q_streaming_late_buffer,
        "lag_gap": q_lag_gap,
        "rolling": q_rolling,
        "rolling_range": q_rolling_range,
        "session_stats": q_session_stats,
        "asof_error": q_asof_error,
        "asof_cogrouped": q_asof_cogrouped,
        "asof_global": q_asof_global,
        "asof_restatement": q_asof_restatement,
        "masked_user_stats": q_masked_user_stats,
        "circular_hour": q_circular_hour,
        "gabor_bank": q_gabor_bank,
        "circular_recentered": q_circular_recentered,
        "topk_per_user": q_topk_per_user,
        "run_length_stats": q_run_length_stats,
        "transition_counts": q_transition_counts,
        "event_type_agg": q_event_type_agg,
        "event_cube": q_event_cube,
        "rank_funcs": q_rank_funcs,
        "set_ops": q_set_ops,
        "scalar_funcs": q_scalar_funcs,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "repetition": q_repetition,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "prefix_cooc": q_prefix_cooc,
        "prefix_xcooc": q_prefix_xcooc,
        "prefix_cooc_full": q_prefix_cooc_full,
        "prefix_runlen": q_prefix_runlen,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "dup_groups": q_dup_groups,
        "contamination": q_contamination,
        "split_assign": q_split_assign,
        "pack_docs": q_pack_docs,
        "embedding_near_dup": q_embedding_near_dup,
    }


_W = "PARTITION BY user_id ORDER BY ts, event_id"
_WF = f"{_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

# distinct word-3-shingle sets per doc — the DuckDB twin of
# operators/dedup._word_shingles(n=3): same tokenization (lower +
# split on \s+), same short-doc fallback (one whole-text shingle)
_SHINGLES_SQL = r"""
    SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)),
        i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')
    )) AS s
    FROM documents
"""

_JACCARD_PAIRS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
"""

_STOPWORDS_SQL = (
    "['the','a','an','and','or','of','to','in','is','are','was','were','be',"
    "'been','it','this','that','for','on','with','as','at','by','from','not','no']"
)
_TOKS = "regexp_split_to_array(text, '\\s+')"
_LTOKS = "regexp_split_to_array(lower(text), '\\s+')"
_SWHITS = f"len(list_filter({_LTOKS}, t -> list_contains({_STOPWORDS_SQL}, t)))"
_SWRATIO = f"round({_SWHITS} / greatest(len({_LTOKS}), 1)::DOUBLE, 6)"


def _langid_oracle() -> str:
    from nuclei_feature_extraction_spark.operators.langid import (
        oracle_fragments,
    )

    return oracle_fragments("documents", "text", "doc_id")


def oracle_sql() -> dict[str, str]:
    d = {
        "sessionize": f"""
            SELECT event_id, user_id,
                   CAST(SUM(CASE WHEN gap_s > 1800.0 THEN 1 ELSE 0 END)
                        OVER ({_WF}) AS INTEGER) AS session_id
            FROM (SELECT *, epoch(ts) - lag(epoch(ts)) OVER ({_W}) AS gap_s
                  FROM events)
        """,
        "streaming_sessionize": f"""
            SELECT event_id, user_id,
                   CAST(SUM(CASE WHEN gap_s > 1800.0 THEN 1 ELSE 0 END)
                        OVER ({_WF}) AS INTEGER) AS session_id
            FROM (SELECT *, epoch(ts) - lag(epoch(ts)) OVER ({_W}) AS gap_s
                  FROM events)
        """,
        "streaming_dedup": """
            SELECT DISTINCT text FROM documents
        """,
        "lag_gap": f"""
            SELECT event_id,
                   round(epoch(ts) - lag(epoch(ts)) OVER ({_W}), 6) AS gap_s,
                   lag(value, 1) OVER ({_W}) AS value_lag1,
                   lag(value, 3) OVER ({_W}) AS value_lag3,
                   lag(event_type, 1) OVER ({_W}) AS type_lag1
            FROM events
        """,
        "rolling": f"""
            SELECT event_id,
                   round(avg(value) OVER w10, 6) AS roll_mean,
                   round(stddev_pop(value) OVER w10, 6) AS roll_std,
                   min(value) OVER w10 AS roll_min,
                   max(value) OVER w10 AS roll_max
            FROM events
            WINDOW w10 AS ({_W} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        """,
        "rolling_range": """
            SELECT event_id,
                   round(avg(value) OVER wr, 6) AS roll1h_mean,
                   count(value) OVER wr AS roll1h_count
            FROM events
            WINDOW wr AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "session_stats": f"""
            WITH s AS (
              SELECT *, CAST(SUM(CASE WHEN gap_s > 1800.0 THEN 1 ELSE 0 END)
                             OVER ({_WF}) AS INTEGER) AS session_id
              FROM (SELECT *, epoch(ts) - lag(epoch(ts)) OVER ({_W}) AS gap_s
                    FROM events)
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(max(epoch(ts)) - min(epoch(ts)), 6) AS duration_s,
                   round(avg(value), 6) AS mean_value
            FROM s GROUP BY user_id, session_id
        """,
        "asof_error": """
            SELECT l.event_id, r.value AS last_error_value
            FROM events l ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events WHERE event_type = 'error') r
            ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_cogrouped": """
            SELECT l.event_id, r.value AS last_error_value
            FROM events l ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events WHERE event_type = 'error') r
            ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_global": """
            SELECT l.event_id, r.value AS cfg_value
            FROM events l ASOF LEFT JOIN
                 (SELECT ts, value FROM events WHERE event_type = 'error'
                  ORDER BY ts, event_id LIMIT 10) r
            ON l.ts >= r.ts
        """,
        "asof_restatement": """
            WITH side AS (
              SELECT user_id, date_trunc('day', ts) AS effective_ts,
                     CAST(event_id AS VARCHAR) AS tag, value
              FROM events WHERE event_type = 'error'
            ), dedup AS (
              SELECT user_id, effective_ts, tag, value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, effective_ts ORDER BY tag DESC
                ) AS rn FROM side
              ) WHERE rn = 1
            )
            SELECT l.event_id, r.tag AS restated_tag,
                   r.value AS restated_value
            FROM events l ASOF LEFT JOIN dedup r
            ON l.user_id = r.user_id AND l.ts >= r.effective_ts
        """,
        "masked_user_stats": """
            SELECT user_id, count(*) AS n_events,
                   count(CASE WHEN event_type = 'click' THEN value END) AS n_clicks,
                   round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS click_mean,
                   round(stddev_pop(CASE WHEN event_type = 'click' THEN value END), 6) AS click_std
            FROM events GROUP BY user_id
        """,
        "circular_hour": """
            SELECT user_id,
                   round(fmod(degrees(atan2(avg(sin(theta)), avg(cos(theta)))) + 360.0,
                              360.0), 6) AS tod_circmean_deg
            FROM (SELECT user_id,
                         fmod(epoch(ts), 86400.0) / 86400.0 * 2.0 * 3.141592653589793 AS theta
                  FROM events)
            GROUP BY user_id
        """,
        "gabor_bank": f"""
            WITH pos AS (
              SELECT event_id, user_id, ts, value,
                     row_number() OVER ({_W}) - 1 AS rn
              FROM events
            ), m AS (
              SELECT event_id, user_id, ts,
                     {', '.join(
                         f"cos(rn * 2 * pi() / {w} + {p} * pi() / 2) * value AS g{w}_{p}"
                         for w in (8, 32) for p in range(2)
                     )}
              FROM pos
            )
            SELECT event_id,
                   {', '.join(
                       f"round(avg(g{w}_{p}) OVER w{w}, 6) + 0.0 AS value_gabor_w{w}_p{p}_mean, "
                       f"round(stddev_pop(g{w}_{p}) OVER w{w}, 6) + 0.0 AS value_gabor_w{w}_p{p}_std"
                       for w in (8, 32) for p in range(2)
                   )}
            FROM m
            WINDOW w8 AS ({_W} ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
                   w32 AS ({_W} ROWS BETWEEN 31 PRECEDING AND CURRENT ROW)
        """,
        "circular_recentered": """
            WITH t AS (
              SELECT user_id,
                     fmod(epoch(ts), 86400.0) / 86400.0 * 2 * pi() AS theta
              FROM events
            ), m AS (
              SELECT user_id, atan2(avg(sin(theta)), avg(cos(theta))) AS mu
              FROM t GROUP BY user_id
            ), d AS (
              SELECT t.user_id, mu,
                     CASE WHEN fmod(theta - mu + pi(), 2 * pi()) < 0
                          THEN fmod(theta - mu + pi(), 2 * pi()) + 2 * pi()
                          ELSE fmod(theta - mu + pi(), 2 * pi()) END - pi() AS dev
              FROM t JOIN m USING (user_id)
            )
            SELECT user_id,
                   round(fmod(degrees(mu) + 360.0, 360.0), 6) + 0.0 AS circmean_deg,
                   round(degrees(stddev_pop(dev)), 6) + 0.0 AS recentered_std_deg
            FROM d GROUP BY user_id, mu
        """,
        "topk_per_user": """
            SELECT user_id, event_id, CAST(rank AS INTEGER) AS rank
            FROM (SELECT user_id, event_id,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY value DESC, event_id) AS rank
                  FROM events)
            WHERE rank <= 3
        """,
        "run_length_stats": f"""
            WITH o AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(event_type) OVER ({_W}) IS NULL
                            OR lag(event_type) OVER ({_W}) <> event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
            ), r AS (
              SELECT user_id, SUM(chg) OVER ({_WF}) AS run_id FROM o
            ), runs AS (
              SELECT user_id, run_id, count(*) AS run_len
              FROM r GROUP BY user_id, run_id
            ), lc AS (
              SELECT user_id, run_len, count(*) AS c
              FROM runs GROUP BY user_id, run_len
            ), rlnn AS (
              SELECT user_id, SUM(c*c)*1.0 AS rln_num FROM lc GROUP BY user_id
            ), base AS (
              SELECT user_id, count(*) AS n_runs,
                     round(avg(run_len), 6) AS mean_run_len,
                     max(run_len) AS max_run_len,
                     SUM(run_len*run_len)*1.0 AS lre_num
              FROM runs GROUP BY user_id
            )
            SELECT base.user_id, n_runs, mean_run_len, max_run_len,
                   round(rln_num / n_runs, 6) AS rln,
                   round(lre_num / n_runs, 6) AS lre
            FROM base JOIN rlnn ON rlnn.user_id = base.user_id
        """,
        "transition_counts": f"""
            SELECT prev_type, event_type, count(*) AS n
            FROM (SELECT event_type,
                         lag(event_type) OVER ({_W}) AS prev_type
                  FROM events)
            WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        """,
        "event_type_agg": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 6) AS sum_value,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY event_type
        """,
        "event_cube": """
            SELECT event_type, hour_bucket, count(*) AS n,
                   round(avg(value), 6) AS avg_value
            FROM (SELECT *, CAST(floor(CAST(extract(hour FROM ts) AS DOUBLE) / 6) AS INT) AS hour_bucket
                  FROM events)
            GROUP BY CUBE (event_type, hour_bucket)
        """,
        "rank_funcs": """
            SELECT event_id,
                   CAST(row_number() OVER w AS INTEGER) AS rn,
                   CAST(dense_rank() OVER w AS INTEGER) AS drank,
                   CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                   round(percent_rank() OVER w, 6) AS prank,
                   round(cume_dist() OVER w, 6) AS cdist
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "set_ops": """
            SELECT user_id, 'click_only' AS tag FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'error')
            UNION ALL
            SELECT user_id, 'both' AS tag FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'error')
        """,
        "scalar_funcs": """
            SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(ts AS DATE) AS day,
                   CAST(isodow(ts) - 1 AS INTEGER) AS wd,
                   strftime(ts, '%Y-%m') AS ym,
                   upper(substring(event_type, 1, 3)) AS t3,
                   concat_ws('#', event_type, CAST(user_id AS VARCHAR)) AS tkey,
                   regexp_extract(props, '(\\d+)', 1) AS k_re
            FROM events
        """,
        "dedup_exact": """
            SELECT doc_id,
                   count(*) OVER (PARTITION BY text) AS dup_group_size,
                   doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
            FROM documents
        """,
        "text_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
                   CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INTEGER) AS punct_count,
                   round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                         / greatest(length(text), 1)::DOUBLE, 6) AS punct_ratio,
                   round((length(text) - (len({_TOKS}) - 1))
                         / greatest(len({_TOKS}), 1)::DOUBLE, 6) AS avg_token_len
            FROM documents
        """,
        "quality": f"""
            SELECT doc_id, {_SWRATIO} AS stopword_ratio,
                   round((CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                                     / greatest(length(text), 1)::DOUBLE, 6) <= 0.2
                          THEN 0.3 ELSE 0.0 END)
                       + (CASE WHEN {_SWRATIO} >= 0.01 THEN 0.3 ELSE 0.0 END), 6) AS quality_score
            FROM documents
        """,
        # real char-bigram lang-id: the integer score table + decision
        # CASE are generated from the SAME model the Spark side uses
        # (operators/langid.py), so DuckDB sums identical integers
        "lang_id": f"""
            SELECT doc_id, lang_pred FROM ({_langid_oracle()})
        """,
        "repetition": """
            WITH t AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS toks
              FROM documents
            ), b AS (
              SELECT doc_id, toks,
                     list_transform(range(1, greatest(len(toks), 1)),
                                    i -> toks[i] || ' ' || toks[i + 1]) AS bgs
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN len(toks) > 0 THEN
                     round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                 / len(toks), 6) + 0.0
                   END AS dup_word_frac,
                   CASE WHEN len(toks) > 0 THEN
                     round(CAST(list_max(list_transform(list_distinct(toks),
                             w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
                           / len(toks), 6) + 0.0
                   END AS top_word_frac,
                   CASE WHEN len(bgs) > 0 THEN
                     round(CAST(list_max(list_transform(list_distinct(bgs),
                             w -> len(list_filter(bgs, x -> x = w)))) AS DOUBLE)
                           / len(bgs), 6) + 0.0
                   END AS top_bigram_frac
            FROM b
        """,

        "prefix_cooc": """
            WITH lv AS (
              SELECT event_id, user_id, ts, least(3, greatest(0, CAST(floor(ln(1.0 + greatest(floor(value * 10.0), 0)) / ln(4097.0) * 4) AS INT))) AS lev
              FROM events
            ), tr AS (
              SELECT event_id, user_id, ts,
                     lag(lev) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
                     lev AS j
              FROM lv
            ), c AS (
              SELECT event_id,
                     SUM(CASE WHEN i IS NULL THEN 0 ELSE 2 END) OVER wf AS s,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 2.0*(i-j)*(i-j) END) OVER wf AS contrast_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 2.0*abs(i-j) END) OVER wf AS dissim_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*(i+j) END) OVER wf AS mu_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*(i*i+j*j) END) OVER wf AS m2_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 2.0*i*j END) OVER wf AS eij_c
              FROM tr
              WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id,
              round(CASE WHEN s > 0 THEN contrast_c/s END, 6) + 0.0 AS cooc_contrast,
              round(CASE WHEN s > 0 THEN dissim_c/s END, 6) + 0.0 AS cooc_dissimilarity,
              round(CASE WHEN s > 0 THEN 2.0*mu_c/s END, 6) + 0.0 AS cooc_sum_average,
              round(CASE WHEN s > 0 AND (m2_c/s - (mu_c/s)*(mu_c/s)) > 1e-9
                    THEN (eij_c/s - (mu_c/s)*(mu_c/s))
                         / (m2_c/s - (mu_c/s)*(mu_c/s)) END, 6) + 0.0 AS cooc_correlation,
              round(CASE WHEN s > 0 THEN m2_c/s - (mu_c/s)*(mu_c/s) END, 6) + 0.0 AS cooc_sum_of_squares
            FROM c
        """,
        "contamination": f"""
            WITH sh AS ({_SHINGLES_SQL}),
            bench AS (
              SELECT DISTINCT unnest(s) AS s FROM sh WHERE doc_id % 20 = 0
            ),
            cp AS (
              SELECT doc_id, unnest(s) AS s FROM sh WHERE doc_id % 20 <> 0
            ),
            sizes AS (
              SELECT doc_id, count(*) AS n_shingles FROM cp GROUP BY doc_id
            ),
            hits AS (
              SELECT cp.doc_id, count(*) AS n_hit
              FROM cp JOIN bench USING (s) GROUP BY cp.doc_id
            )
            SELECT sizes.doc_id,
                   n_shingles,
                   coalesce(n_hit, 0) AS n_hit,
                   round(coalesce(n_hit, 0) / n_shingles::DOUBLE, 6) + 0.0 AS contamination,
                   coalesce(n_hit, 0) / n_shingles::DOUBLE >= 0.5 AS is_contaminated
            FROM sizes LEFT JOIN hits ON hits.doc_id = sizes.doc_id
        """,
        "split_assign": """
            SELECT doc_id,
                   CASE
                     WHEN substr(md5(concat_ws(':', 's0', CAST(doc_id AS VARCHAR))), 1, 4) < 'e666' THEN 'train'
                     WHEN substr(md5(concat_ws(':', 's0', CAST(doc_id AS VARCHAR))), 1, 4) < 'f333' THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents
        """,
        "pack_docs": """
            WITH t AS (
              SELECT doc_id,
                     substr(md5(concat_ws(':', 'pack0', CAST(doc_id AS VARCHAR))), 1, 1) AS shard,
                     len(string_split_regex(text, '\\s+'))::BIGINT AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n_tokens,
                     (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens)::BIGINT AS start_tok
              FROM t
            )
            SELECT doc_id, shard, n_tokens, start_tok,
                   (start_tok // 512)::BIGINT AS pack_id,
                   (start_tok % 512)::BIGINT AS pack_offset
            FROM c
        """,
        "prefix_xcooc": """
            WITH lv AS (
              SELECT event_id, user_id, ts,
                     CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                          WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                          ELSE 4 END AS a,
                     least(3, greatest(0, CAST(floor(ln(1.0 + greatest(floor(value * 10.0), 0)) / ln(4097.0) * 4) AS INT))) AS b
              FROM events
            ), tr AS (
              SELECT event_id, user_id, ts,
                     lag(a) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
                     b AS j
              FROM lv
            ), v AS (
              SELECT *, CASE WHEN i IS NOT NULL THEN
                       row_number() OVER (PARTITION BY user_id, i, j
                                          ORDER BY ts, event_id) END AS u
              FROM tr
            ), c AS (
              SELECT event_id,
                     SUM(CASE WHEN i IS NULL THEN 0 ELSE 1 END) OVER wf AS s,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*(i-j)*(i-j) END) OVER wf AS con_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*abs(i-j) END) OVER wf AS dis_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*i END) OVER wf AS ai_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*j END) OVER wf AS bj_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*i*i END) OVER wf AS i2_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*j*j END) OVER wf AS j2_c,
                     SUM(CASE WHEN i IS NULL THEN 0.0 ELSE 1.0*i*j END) OVER wf AS ij_c,
                     SUM(CASE WHEN u IS NULL THEN 0.0 ELSE 2.0*u-1.0 END) OVER wf AS c2_c
              FROM v
              WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id,
              round(CASE WHEN s > 0 THEN con_c/s END, 6) + 0.0 AS xcooc_contrast,
              round(CASE WHEN s > 0 THEN dis_c/s END, 6) + 0.0 AS xcooc_dissimilarity,
              round(CASE WHEN s > 0 THEN ai_c/s END, 6) + 0.0 AS xcooc_mean_a,
              round(CASE WHEN s > 0 THEN bj_c/s END, 6) + 0.0 AS xcooc_mean_b,
              round(CASE WHEN s > 0
                         AND (i2_c/s - (ai_c/s)*(ai_c/s)) * (j2_c/s - (bj_c/s)*(bj_c/s)) > 1e-9
                    THEN (ij_c/s - (ai_c/s)*(bj_c/s))
                         / sqrt((i2_c/s - (ai_c/s)*(ai_c/s)) * (j2_c/s - (bj_c/s)*(bj_c/s)))
                    END, 6) + 0.0 AS xcooc_correlation,
              round(CASE WHEN s > 0 THEN c2_c/(s*s) END, 6) + 0.0 AS xcooc_asm
            FROM c
        """,
        "prefix_cooc_full": _prefix_cooc_full_sql(),
        "prefix_runlen": """
            WITH lv AS (
              SELECT event_id, user_id, ts, least(3, greatest(0, CAST(floor(ln(1.0 + greatest(floor(value * 10.0), 0)) / ln(4097.0) * 4) AS INT))) AS lev
              FROM events
            ), r1 AS (
              SELECT event_id, user_id, ts, lev,
                     row_number() OVER w AS rn,
                     CASE WHEN lag(lev) OVER w IS NULL OR lag(lev) OVER w <> lev
                          THEN 1 ELSE 0 END AS chg
              FROM lv WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), r2 AS (
              SELECT *, SUM(chg) OVER wf AS r,
                     MAX(CASE WHEN chg = 1 THEN rn END) OVER wf AS run_start_rn,
                     SUM(chg) OVER (PARTITION BY user_id, lev ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS starts_lv
              FROM r1 WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), r3 AS (
              SELECT *, rn - run_start_rn + 1 AS len FROM r2
            ), r4 AS (
              SELECT event_id, user_id, rn, r,
                SUM(2.0*len - 1.0) OVER wf AS lre_c,
                SUM(CASE WHEN chg = 1 THEN 2.0*starts_lv - 1.0 ELSE 0.0 END) OVER wf AS gln_c,
                SUM(CASE WHEN chg = 1 THEN (lev+1.0)*(lev+1.0) ELSE 0.0 END) OVER wf AS hgre_c,
                -- long-run × {high, extreme} gray emphases: per-row delta
                -- w(lev)·(2·len − 1); integer / quarter-integer terms, so
                -- DuckDB's segment-tree summation order is irrelevant
                SUM((lev+1.0)*(lev+1.0)*(2.0*len - 1.0)) OVER wf AS lrhge_c,
                SUM((abs(lev - 1.5)+1.0)*(abs(lev - 1.5)+1.0)*(2.0*len - 1.0)) OVER wf AS lrege_c
              FROM r3 WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            -- RLN needs counts of runs AT EACH EXACT LENGTH, which shift as
            -- the open run grows: oracle-side we just recompute runs over
            -- every prefix (quadratic — fine at sf0.01)
            pq AS (
              SELECT a.event_id AS anchor_id, b.rn AS brn, b.lev AS lev
              FROM r3 a JOIN r3 b ON b.user_id = a.user_id AND b.rn <= a.rn
            ), pq1 AS (
              SELECT anchor_id, brn, lev,
                CASE WHEN lag(lev) OVER w IS NULL OR lag(lev) OVER w <> lev
                     THEN 1 ELSE 0 END AS chg
              FROM pq WINDOW w AS (PARTITION BY anchor_id ORDER BY brn)
            ), pq2 AS (
              SELECT anchor_id, brn,
                SUM(chg) OVER (PARTITION BY anchor_id ORDER BY brn
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
              FROM pq1
            ), pq3 AS (
              SELECT anchor_id, run_id, COUNT(*) AS len FROM pq2 GROUP BY anchor_id, run_id
            ), pq4 AS (
              SELECT anchor_id, len, COUNT(*) AS c FROM pq3 GROUP BY anchor_id, len
            ), rlnq AS (
              SELECT anchor_id, SUM(c*c)*1.0 AS rln_num FROM pq4 GROUP BY anchor_id
            )
            SELECT r4.event_id, CAST(r AS BIGINT) AS rl_n_runs,
              round(r*1.0/rn, 6) AS rl_rp,
              round(rn*1.0/r, 6) AS rl_mean_len,
              round(lre_c/r, 6) AS rl_lre,
              round(gln_c/r, 6) AS rl_gln,
              round(hgre_c/r, 6) AS rl_hgre,
              round(lre_c/r - (rn*1.0/r)*(rn*1.0/r), 6) + 0.0 AS rl_rlvar,
              round(rlnq.rln_num/r, 6) AS rl_rln,
              round(lrhge_c/r, 6) AS rl_lrhge,
              round(lrege_c/r, 6) AS rl_lrege
            FROM r4 JOIN rlnq ON rlnq.anchor_id = r4.event_id
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)), 6) AS sim
            FROM embeddings ORDER BY sim DESC, vec_id LIMIT 5
        """,
        "ivf_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.v, q.qv) AS sim_raw
              FROM e CROSS JOIN q
            ), r AS (
              SELECT query_id, vec_id, sim_raw,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim_raw DESC, vec_id) AS rank
              FROM s
            )
            SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank,
                   round(sim_raw, 6) AS sim
            FROM r WHERE rank <= 5
        """,
        # all three emit the exact-verified pair set, so one all-pairs
        # ground truth oracles three distinct Spark plans (minhash-LSH
        # candidates, simhash-band candidates, inverted-index exact)
        "minhash_pairs": _JACCARD_PAIRS_SQL,
        "simhash_pairs": _JACCARD_PAIRS_SQL,
        "ngram_jaccard": _JACCARD_PAIRS_SQL,
        "dup_groups": f"""
            WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
            p AS (
              SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.s, b.s))::DOUBLE
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
            ),
            e AS (SELECT ia AS s, ib AS d FROM p
                  UNION ALL SELECT ib AS s, ia AS d FROM p),
            reach AS (
              SELECT doc_id AS id, doc_id AS comp FROM documents
              UNION
              SELECT e.d AS id, r.comp AS comp FROM reach r JOIN e ON e.s = r.id
            ),
            lab AS (SELECT id, min(comp) AS dup_group_id FROM reach GROUP BY id),
            sz AS (SELECT dup_group_id, count(*) AS dup_group_size
                   FROM lab GROUP BY dup_group_id)
            SELECT l.id AS doc_id, l.dup_group_id, s.dup_group_size,
                   l.id = l.dup_group_id AS is_canonical
            FROM lab l JOIN sz s USING (dup_group_id)
        """,
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.44
        """,
    }
    # streaming replays are hash-checked against the SAME oracles as
    # their batch twins — batch == streaming == DuckDB with one truth
    d["streaming_prefix"] = f"""
        SELECT c.*, x.* EXCLUDE (event_id), r.* EXCLUDE (event_id)
        FROM ({d["prefix_cooc"]}) c
        JOIN ({d["prefix_xcooc"]}) x ON x.event_id = c.event_id
        JOIN ({d["prefix_runlen"]}) r ON r.event_id = c.event_id
    """
    # late-drop replay: the accepted set is each user's LATER half (the
    # earlier half arrives in micro-batch 1, behind the high-water mark,
    # and is dropped). The prefix oracles are re-pointed (each references
    # `events` exactly once) at an `accepted_events` CTE — same stats,
    # recomputed from scratch over only the accepted rows (positions/
    # runs restart, exactly like the streaming state that never saw the
    # dropped rows). DuckDB forbids a CTE shadowing the table it reads.
    import re as _re

    def _on_accepted(sql: str) -> str:
        out, n = _re.subn(r"\bevents\b", "accepted_events", sql)
        assert n == 1, f"expected exactly one events reference, got {n}"
        return out

    d["streaming_late_drop"] = f"""
        WITH accepted_events AS (
          SELECT * EXCLUDE (__rn, __n) FROM (
            SELECT e.*,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS __rn,
                   count(*) OVER (PARTITION BY user_id) AS __n
            FROM events e
          ) WHERE __rn - 1 >= __n // 2
        )
        SELECT c.*, x.* EXCLUDE (event_id), r.* EXCLUDE (event_id)
        FROM ({_on_accepted(d["prefix_cooc"])}) c
        JOIN ({_on_accepted(d["prefix_xcooc"])}) x ON x.event_id = c.event_id
        JOIN ({_on_accepted(d["prefix_runlen"])}) r ON r.event_id = c.event_id
    """
    # buffer replay: the reorder buffer restores full batch parity under
    # the same out-of-order split, so the oracle is streaming_prefix's
    # full-data SQL verbatim — one truth for in-order, buffered, batch
    d["streaming_late_buffer"] = d["streaming_prefix"]
    d["streaming_windows"] = """
        WITH tr AS (
          SELECT event_id, user_id, ts,
                 epoch_us(ts) AS us,
                 greatest(floor(value * 10.0), 0) AS tlen,
                 CASE event_type WHEN 'click' THEN 'user'
                      WHEN 'error' THEN 'assistant'
                      WHEN 'purchase' THEN 'tool'
                      WHEN 'signup' THEN 'system'
                      ELSE 'other' END AS role
          FROM events
        ), l AS (
          SELECT *,
                 lag(us) OVER w AS prev_us,
                 lag(tlen, 1) OVER w AS tlen_lag1,
                 lag(tlen, 2) OVER w AS tlen_lag2,
                 lag(tlen, 3) OVER w AS tlen_lag3,
                 lag(role, 1) OVER w AS role_lag1,
                 lag(role, 2) OVER w AS role_lag2,
                 lag(role, 3) OVER w AS role_lag3,
                 SUM(tlen) OVER w20 AS s1,
                 SUM(tlen * tlen) OVER w20 AS s2,
                 COUNT(*) OVER w20 AS cnt,
                 MIN(tlen) OVER w20 AS tmin,
                 MAX(tlen) OVER w20 AS tmax,
                 SUM(CASE WHEN role = 'assistant' THEN tlen ELSE 0.0 END) OVER w20 AS m1,
                 SUM(CASE WHEN role = 'assistant' THEN tlen * tlen ELSE 0.0 END) OVER w20 AS m2,
                 SUM(CASE WHEN role = 'assistant' THEN 1.0 ELSE 0.0 END) OVER w20 AS mc
          FROM tr
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                 w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id,
          CAST(SUM(CASE WHEN prev_us IS NOT NULL AND us - prev_us > 1800000000
                        THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS INTEGER) AS session_id,
          role_lag1, role_lag2, role_lag3,
          round(tlen_lag1, 6) + 0.0 AS tlen_lag1,
          round(tlen_lag2, 6) + 0.0 AS tlen_lag2,
          round(tlen_lag3, 6) + 0.0 AS tlen_lag3,
          round(s1 / cnt, 6) + 0.0 AS tlen_r20_mean,
          round(sqrt(greatest(
            CASE WHEN (s2 / cnt - (s1 / cnt) * (s1 / cnt)) < 1e-11 * abs(s2 / cnt)
                 THEN 0.0 ELSE s2 / cnt - (s1 / cnt) * (s1 / cnt) END,
            0.0)), 6) + 0.0 AS tlen_r20_std,
          round(tmin, 6) + 0.0 AS tlen_r20_min,
          round(tmax, 6) + 0.0 AS tlen_r20_max,
          round(CASE WHEN mc > 0 THEN m1 / mc END, 6) + 0.0 AS tlen_asst_r20_mean,
          round(CASE WHEN mc > 0 THEN sqrt(greatest(
            CASE WHEN (m2 / mc - (m1 / mc) * (m1 / mc)) < 1e-11 * abs(m2 / mc)
                 THEN 0.0 ELSE m2 / mc - (m1 / mc) * (m1 / mc) END,
            0.0)) END, 6) + 0.0 AS tlen_asst_r20_std
        FROM l
    """
    # buffered window replay restores full batch parity (same reorder
    # buffer as streaming_late_buffer) — one oracle, one truth
    d["streaming_windows_buffer"] = d["streaming_windows"]
    return d
