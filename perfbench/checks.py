"""Correctness checks; each returns a list of mismatch messages (empty = ok).

The comparisons are pure pandas so a test can feed them a perturbed
output; the Spark side only collects the frames compared here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

KEY = ["conv_id", "turn_idx"]
# test_fused.py pins fused == composable at this tolerance
RTOL = ATOL = 1e-9


def row_digest_exprs():
    """Aggregates that pin a transcript table's (conv_id, turn_idx, text)
    multiset: row count plus order-free hash sums of the keys and of the
    keyed text. The input's keys are distinct, so equal counts and key
    sums mean each key appears exactly once. No distinct aggregate, so
    these also work as ``observe()`` metrics."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*KEY).cast("decimal(38,0)")).alias("key_hash"),
        F.sum(F.xxhash64(*KEY, "text").cast("decimal(38,0)")).alias("text_hash"),
    ]


def check_rows(want: dict, got: dict) -> list[str]:
    errs = []
    if got["rows"] != want["rows"]:
        errs.append(f"row count {got['rows']} != input {want['rows']}")
    if got["key_hash"] != want["key_hash"]:
        errs.append("(conv_id, turn_idx) keys are missing or repeated")
    elif got["text_hash"] != want["text_hash"]:
        errs.append("text differs from the input for some (conv_id, turn_idx)")
    return errs


def compare_features(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Column-for-column equality of two feature frames keyed by
    (conv_id, turn_idx): floats allclose, everything else exact."""
    got = got.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    if len(got) != len(want):
        return [f"sample rows {len(got)} != spec rows {len(want)}"]
    cols = set(want.columns) - {"bucket"}
    missing = cols ^ (set(got.columns) - {"bucket"})
    if missing:
        return [f"columns differ: {sorted(missing)}"]
    errs = []
    for c in sorted(cols):
        a, b = got[c], want[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            ok = np.isclose(
                a.to_numpy(dtype=float), b.to_numpy(dtype=float),
                rtol=RTOL, atol=ATOL, equal_nan=True,
            )
        else:
            ok = (a.fillna("∅").astype(str) == b.fillna("∅").astype(str)).to_numpy()
        if not ok.all():
            errs.append(f"column {c}: {int((~ok).sum())} rows differ")
    return errs


def asof_leaks(
    out: pd.DataFrame, profile: pd.DataFrame, config: pd.DataFrame
) -> list[str]:
    """Every as-of pick must come from a side row with effective_ts <= ts.
    Picks are traced back by value: profile (conv_id, score) and config
    ``model`` identify their side row."""
    errs = []
    ts = pd.to_datetime(out["ts"]).to_numpy()
    picked = out[out["score"].notna()]
    if len(picked):
        m = picked[KEY + ["ts", "score"]].merge(
            profile[["conv_id", "score", "effective_ts"]],
            on=["conv_id", "score"], how="left",
        )
        bad = m["effective_ts"].isna() | (
            pd.to_datetime(m["effective_ts"]) > pd.to_datetime(m["ts"])
        )
        if bad.any():
            errs.append(f"{int(bad.sum())} profile picks from the future or unknown")
    eff = dict(zip(config["model"], pd.to_datetime(config["effective_ts"])))
    cfg_ts = out["model"].map(eff)
    bad = out["model"].notna() & ~(pd.to_datetime(cfg_ts).to_numpy() <= ts)
    if bad.any():
        errs.append(f"{int(bad.sum())} config picks from the future or unknown")
    return errs


def check_survivors(got_ids, truth: dict) -> list[str]:
    got = np.sort(np.asarray(got_ids, dtype=np.int64))
    want = np.asarray(truth["survivors"], dtype=np.int64)
    errs = []
    if len(np.unique(got)) != len(got):
        errs.append("duplicate doc_id in the curated output")
    extra = np.setdiff1d(got, want)
    lost = np.setdiff1d(want, got)
    if extra.size:
        errs.append(f"{extra.size} docs survive that should not, e.g. {extra[:5].tolist()}")
    if lost.size:
        errs.append(f"{lost.size} planted survivors missing, e.g. {lost[:5].tolist()}")
    return errs


def check_manifest(manifest: dict, n_buckets: int, rows: int) -> list[str]:
    done = {int(b) for b in manifest["completed"]}
    errs = []
    if done != set(range(n_buckets)):
        errs.append(f"buckets missing from the manifest: {sorted(set(range(n_buckets)) - done)}")
    written = sum(int(v["rows"]) for v in manifest["completed"].values())
    if written != rows:
        errs.append(f"manifest rows {written} != input rows {rows}")
    return errs
