"""Fused single-shuffle pipeline == composable Catalyst pipeline,
column for column (transfers all leakage/determinism properties)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.plans.fused import build_features_fused
from nuclei_feature_extraction_spark.plans.pipeline import build_features


def _sorted(pdf):
    # ts breaks turn_idx ties among null-conv_id rows, which the
    # pipelines treat as one conversation drawn from several
    return pdf.sort_values(
        ["conv_id", "turn_idx", "ts"], kind="mergesort"
    ).reset_index(drop=True)


def _ntz(df, c):
    return df.withColumn(c, F.col(c).cast("timestamp_ntz"))


def _assert_parity(df, what="", cap=2_000_000, **kw):
    """``build_features_fused(df, max_broadcast_side_rows=cap, **kw)``
    equals the composable spec ``build_features(df, ["all"], **kw)``:
    floats allclose at 1e-9, strings and nulls equal."""
    fused = _sorted(
        build_features_fused(df, max_broadcast_side_rows=cap, **kw).toPandas()
    )
    comp = _sorted(build_features(df, ["all"], **kw).toPandas())
    assert len(fused) == len(comp) == df.count()
    assert set(fused.columns) == set(comp.columns), (
        sorted(set(fused.columns) ^ set(comp.columns))
    )
    for c in comp.columns:
        a, b = fused[c], comp[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            assert np.allclose(
                a.to_numpy(dtype=float), b.to_numpy(dtype=float),
                rtol=1e-9, atol=1e-9, equal_nan=True,
            ), f"column {c} diverges{what}"
        else:
            assert (a.fillna("∅").astype(str) == b.fillna("∅").astype(str)).all(), c
    return fused


def test_fused_matches_composable(spark, tiny_df, side_profile_df, side_config_df):
    _assert_parity(
        tiny_df, side_profile=side_profile_df, side_config=side_config_df,
        lags=(1,), levels=(4,),
    )


def test_fused_without_sides(spark, tiny_df):
    fused = build_features_fused(tiny_df, lags=(1,), levels=(4,))
    n = fused.count()
    assert n == tiny_df.count()
    assert "plan" not in fused.columns and "model" not in fused.columns


def test_fused_text_byte_equality(spark, tiny_df, tiny_pdf):
    got = _sorted(
        build_features_fused(tiny_df, lags=(1,), levels=(4,))
        .select("conv_id", "turn_idx", "ts", "text")
        .toPandas()
    )
    want = _sorted(tiny_pdf[["conv_id", "turn_idx", "ts", "text"]])
    assert (got["text"] == want["text"]).all()


def test_fused_long_out_of_profile_id_does_not_match(spark, tiny_pdf):
    """Regression: an out-of-profile conv id LONGER than every profile
    id must get null plan/score — casting to the profile array's fixed
    '<U' width used to truncate it to a prefix that falsely matched."""
    base = tiny_pdf[tiny_pdf["conv_id"] == tiny_pdf["conv_id"].iloc[0]].copy()
    longer = base.copy()
    longer["conv_id"] = base["conv_id"] + "0"  # prefix == an in-profile id
    both = pd.concat([base, longer], ignore_index=True)
    profile = pd.DataFrame(
        {
            "conv_id": [base["conv_id"].iloc[0]],
            "effective_ts": [base["ts"].min()],
            "plan": ["pro"],
            "score": [0.5],
        }
    )
    out = build_features_fused(
        spark.createDataFrame(both),
        side_profile=spark.createDataFrame(profile),
        lags=(1,), levels=(4,),
    ).select("conv_id", "plan", "score").toPandas()
    short = out[out["conv_id"] == base["conv_id"].iloc[0]]
    long_ = out[out["conv_id"] != base["conv_id"].iloc[0]]
    assert (short["plan"] == "pro").all()
    assert long_["plan"].isna().all(), "truncated-id false match"
    assert long_["score"].isna().all()


def test_fused_broadcast_fallback_matches_composable(
    spark, tiny_df, side_profile_df, side_config_df
):
    """Forcing the side tables past the broadcast guard must route them
    through the union-window as-of fallback with identical results."""
    _assert_parity(
        tiny_df, " under fallback", side_profile=side_profile_df,
        side_config=side_config_df, lags=(1,), levels=(4,), cap=1,
    )


def test_fused_full_reference_grid_parity(spark, tiny_df, side_profile_df, side_config_df):
    """Fused == composable at the COMPLETE reference-class grid
    (texture.rs:19-20: d∈{1,2,3,5} × K∈{4,8,16,32}) — the width used by
    tools/fullwidth_bench.py; parity must hold there, not only at the
    small default grid."""
    fused = _assert_parity(
        tiny_df, " at full grid", side_profile=side_profile_df,
        side_config=side_config_df, lags=(1, 2, 3, 5), levels=(4, 8, 16, 32),
    )
    assert len(fused.columns) > 380, len(fused.columns)


@pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kolkata"])
def test_fused_matches_composable_in_non_utc_session(
    spark, tiny_df, side_profile_df, side_config_df, tz
):
    """The Arrow pass reads every time value as epoch microseconds
    computed in Spark, so the session timezone cannot skew the
    time-of-day features or the as-of picks — for TIMESTAMP and
    TIMESTAMP_NTZ inputs alike, broadcast or fallback as-of."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for cast in (False, True):
            df, prof, cfg = tiny_df, side_profile_df, side_config_df
            if cast:
                df, prof, cfg = (
                    _ntz(df, "ts"), _ntz(prof, "effective_ts"),
                    _ntz(cfg, "effective_ts"),
                )
            for cap in (2_000_000, 1):
                _assert_parity(
                    df, f" in {tz} (ntz={cast}, cap={cap})",
                    cap=cap, side_profile=prof, side_config=cfg,
                    lags=(1,), levels=(4,),
                )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.parametrize("batch_rows", [2, None])
def test_fused_null_conv_id_forms_own_conversation(
    spark, tiny_pdf, side_profile_df, side_config_df, batch_rows
):
    """Null conv_id rows form one conversation of their own and never
    match a profile id, as in the composable spec — also when a null
    key ends an Arrow batch (tiny batches split every conversation)."""
    pdf = tiny_pdf.head(40).copy()
    pdf.loc[[3, 4, 5, 20, 21], "conv_id"] = None
    df = spark.createDataFrame(pdf)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        fused = _assert_parity(
            df, f" at batch size {batch_rows}", side_profile=side_profile_df,
            side_config=side_config_df, lags=(1,), levels=(4,),
        )
    finally:
        spark.conf.set(key, prev)
    nulls = fused[fused["conv_id"].isna()]
    assert len(nulls) == 5
    assert nulls["plan"].isna().all() and nulls["score"].isna().all()
