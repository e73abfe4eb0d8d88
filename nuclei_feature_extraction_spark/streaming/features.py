"""STREAMING prefix kernel features — the flagship's cooc, xcooc,
runlen and shape families maintained per conversation with
``applyInPandasWithState`` (SURVEY §2.7: custom stateful operators for
live transcript feeds).

Each micro-batch of a conversation runs through the SAME batch kernels
as the flagship (``functions/kernels.py``): the group state is the
kernels' carried state (rows consumed, lag values, per-key counts, the
current run, the shape anchor and extents, the running sums), threaded
from one micro-batch into the next. So the emitted values equal the
batch ``prefix_features`` output by construction, not by a second
derivation: counting stats bit for bit, float moments up to summation
order (pinned by tests/test_streaming_stateful.py across replays that
split conversations mid-stream, and by the carry-split property tests
of the kernels).

Event time reaches the kernels as epoch microseconds computed in Spark
(``timeutil.epoch_us``), so the output does not depend on the session
timezone.

Rows inside a micro-batch are sorted by (ts, turn_idx); correctness
across micro-batches requires per-conversation event-time monotonicity
between batches (append-only transcript logs replayed in order).

CHECKPOINT COMPATIBILITY: the state layout is the kernels' carried
state. A checkpoint written by an earlier layout (the per-family count
matrices and moment scalars) cannot be restarted: Spark's state-schema
check rejects it before any state is read. Start a fresh checkpoint
directory after upgrading."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nuclei_feature_extraction_spark.functions.kernels import (
    RUNLEN_N_LEVELS,
    RUNLEN_SIGNALS,
    _role_idx_array,
    cooc_prefix,
    runlen_prefix,
    shape_moments_prefix,
    xcooc_prefix,
)
from nuclei_feature_extraction_spark.functions.oracle import (
    COOC_STATS,
    RUNLEN_STATS,
    SHAPE_STATS,
    XCOOC_STATS,
    discretize_log,
)
from nuclei_feature_extraction_spark.functions.timeutil import epoch_us

K = 4  # tlen levels of the streamed cooc (lag 1) and of tlen4

COOC_OUT = COOC_STATS
SHAPE_OUT = SHAPE_STATS[:7]  # the moment stats; the hull is not carried
XCOOC_OUT = XCOOC_STATS
RUNLEN_OUT = RUNLEN_STATS
RUNLEN_SIGS = tuple((sig, RUNLEN_N_LEVELS[sig]) for sig in RUNLEN_SIGNALS)

OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, "
    + ", ".join(f"cooc_{s}_d1_k4 double" for s in COOC_OUT)
    + ", "
    + ", ".join(f"shape_{s} double" for s in SHAPE_OUT)
    + ", "
    + ", ".join(f"xcooc_{s}_d1 double" for s in XCOOC_OUT)
    + ", "
    + ", ".join(
        f"runlen_{st}_{sig} double" for sig, _ in RUNLEN_SIGS
        for st in RUNLEN_OUT
    )
)
# one carried kernel state per kernel call (see kernels._Carry)
CARRIED = ("cooc", "xcooc", "shape") + tuple(
    f"runlen_{sig}" for sig in RUNLEN_SIGNALS
)
STATE_SCHEMA = (
    ", ".join(f"{f} map<string, array<double>>" for f in CARRIED)
    # out-of-order guard: per-conversation event-time high-water mark
    # ((ts µs, turn_idx) of the last accepted row) + dropped-row count
    + ", last_us long, last_turn int, n_late long"
    # watermarked reorder buffer (late_policy='buffer'): rows held until
    # the event-time watermark passes them; empty under other policies
    + ", buf_us array<long>, buf_turn array<long>, buf_rolei array<long>"
    + ", buf_htool array<long>, buf_tlen array<double>"
)


def _late_mask(
    us: np.ndarray, turn: np.ndarray, last_us: int, last_turn: int
) -> np.ndarray:
    """Enforce per-conversation event-time monotonicity across AND
    within micro-batches: rows at or before the state's (ts, turn_idx)
    high-water mark are LATE (a replayed duplicate or out-of-order
    delivery), and a row whose (ts, turn_idx) equals a preceding row's
    in the SAME sorted batch is a replayed duplicate too (sorting makes
    intra-batch dups adjacent — without this check a replay that lands
    in the original's batch would be silently double-counted into the
    cooc/runlen state even under ``policy='error'``)."""
    late = (us < last_us) | ((us == last_us) & (turn <= last_turn))
    if len(us) > 1:
        late[1:] |= (us[1:] == us[:-1]) & (turn[1:] == turn[:-1])
    return late


def _release(
    pend: dict[str, np.ndarray], arr: dict[str, np.ndarray], wm_us: int
) -> tuple[dict[str, np.ndarray], dict[str, np.ndarray]]:
    """Watermarked reorder buffer: merge the pending rows with the new
    ones, sort by (ts, turn_idx) and split at the event-time watermark
    → (rows released in order, rows still pending). A shuffled
    micro-batch replay within the watermark delay thus emits the exact
    batch output; rows later than even that horizon fall through to the
    late policy's drop-with-count."""
    merged = {k: np.concatenate([pend[k], arr[k]]) for k in arr}
    merged = _take(merged, np.lexsort((merged["turn"], merged["us"])))
    ready = merged["us"] < wm_us
    return _take(merged, ready), _take(merged, ~ready)


def _take(arr: dict[str, np.ndarray], mask) -> dict[str, np.ndarray]:
    return {k: v[mask] for k, v in arr.items()}


def _apply_late_policy(
    us: np.ndarray, turn: np.ndarray, late: np.ndarray,
    policy: str, conv: str, last_us: int, last_turn: int,
):
    """→ (keep mask | None, n_dropped). ``policy='error'`` fails the
    query loudly — silently wrong prefixes are worse than a dead
    stream; ``policy='drop'`` skips late rows (count carried in state;
    an ``observe`` on input vs output rows surfaces the deficit as a
    lineage metric). The 'buffer' policy routes here with 'drop'
    semantics only for rows late beyond the watermark reorder horizon."""
    if not late.any():
        return None, 0
    if policy == "error":
        i = int(np.argmax(late))
        raise ValueError(
            f"out-of-order or duplicate input for conv_id={conv!r}: row "
            f"(ts_us={int(us[i])}, turn_idx={int(turn[i])}) arrived after "
            f"high-water mark (ts_us={int(last_us)}, turn_idx="
            f"{int(last_turn)}) or duplicates a row in its own "
            "micro-batch; replay micro-batches in event-time order "
            "or pass late_policy='drop' / 'buffer'"
        )
    return ~late, int(late.sum())


class _MaxAccumulatorParam:
    """max-fold accumulator (peak gauges). Declared duck-typed (zero /
    addInPlace) — pyspark's AccumulatorParam is just this protocol.

    ``zero(value)`` deliberately returns ``value`` (not an additive
    identity): pyspark seeds each worker copy with
    ``param.zero(current)``, and because max is idempotent a worker
    starting at the driver's running max folds correctly. Do NOT reuse
    this class for an additive fold — the same seeding would
    double-count; an additive param must return a true identity."""

    def zero(self, value):
        return value

    def addInPlace(self, a, b):
        return a if a >= b else b


def streaming_state_metrics(spark) -> dict:
    """Observable late/buffer state metrics for the stateful streaming
    operators (VERDICT r6 ask #4): pass the dict as
    ``streaming_prefix_features(..., state_metrics=...)`` (same for the
    window stack). After each micro-batch:

    - ``n_late``         (sum): rows dropped past the high-water mark /
      reorder horizon — the state-internal counter, now visible without
      reading state.
    - ``buffer_peak_depth`` (max): the deepest per-conversation pending
      reorder buffer seen so far — an unbounded buffer under a
      misconfigured watermark shows up HERE instead of as silent
      executor memory growth.

    AT-LEAST-ONCE: accumulators update inside the stateful
    transformation, so task retries can double-count ``n_late`` (the
    max-fold peak is retry-stable). Tripwire numbers, not exact meters —
    the state-carried ``n_late`` stays the exactly-once ledger."""
    sc = spark.sparkContext
    return {
        "n_late": sc.accumulator(0),
        "buffer_peak_depth": sc.accumulator(0, _MaxAccumulatorParam()),
    }


# column order of the state-carried row buffer (late_policy='buffer')
_BUF_DTYPES = (
    ("us", np.int64), ("turn", np.int64), ("rolei", np.int64),
    ("htool", np.int64), ("tlen", np.float64),
)


def _extract(rows: pd.DataFrame) -> dict[str, np.ndarray]:
    """Sorted micro-batch rows → the plain-array representation the
    kernels (and the state-carried reorder buffer) work on."""
    rows = rows.sort_values(["ts_us", "turn_idx"], kind="mergesort")
    return {
        "us": rows["ts_us"].to_numpy(dtype=np.int64),
        "turn": rows["turn_idx"].to_numpy(dtype=np.int64),
        "rolei": _role_idx_array(rows["role"]),
        "htool": rows["tool"].notna().to_numpy().astype(np.int64),
        "tlen": rows["tlen"].to_numpy(dtype=np.float64),
    }


def _features(
    conv_id: str, arr: dict[str, np.ndarray], carry: dict[str, dict]
) -> pd.DataFrame:
    """One conversation's accepted micro-batch rows through the batch
    kernels, each family's carried state threaded in and replaced by
    its end state. The signals are built as ``compute_features_pdf``
    builds them."""
    us, tlen = arr["us"], arr["tlen"]
    m = len(us)
    conv = np.zeros(m, dtype=np.int64)
    first = np.zeros(m, dtype=bool)
    first[0] = True
    lev = discretize_log(tlen, K)
    # absolute turn positions; every family state counts the rows seen
    pos = np.arange(m) + int(carry["cooc"].get("pos", [0])[0])
    signals = {
        "role": arr["rolei"], "has_tool": arr["htool"], "tlen4": lev,
        "posb": np.minimum(pos // 4, 3),
    }
    data = {
        "conv_id": conv_id,
        "turn_idx": arr["turn"].astype(np.int32),
        # tz-aware, so Spark stores the instant whatever the session zone
        "ts": pd.Series(us.astype("datetime64[us]")).dt.tz_localize("UTC"),
    }
    stats, carry["cooc"] = cooc_prefix(conv, first, lev, 1, K, carry["cooc"])
    data.update({f"cooc_{s}_d1_k4": stats[s] for s in COOC_OUT})
    stats, carry["shape"] = shape_moments_prefix(
        conv, first, us * 1000 / 1e9, tlen, carry["shape"]
    )
    data.update({f"shape_{s}": stats[s] for s in SHAPE_OUT})
    stats, carry["xcooc"] = xcooc_prefix(
        conv, first, arr["rolei"], lev, 1, carry["xcooc"]
    )
    data.update({f"xcooc_{s}_d1": stats[s] for s in XCOOC_OUT})
    for sig, g in RUNLEN_SIGS:
        f = f"runlen_{sig}"
        stats, carry[f] = runlen_prefix(conv, first, signals[sig], g, carry[f])
        data.update({f"runlen_{s}_{sig}": stats[s] for s in RUNLEN_OUT})
    return pd.DataFrame(data)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    late_policy: str = "error", metrics: dict | None = None,
) -> Iterator[pd.DataFrame]:
    dfs = [p for p in pdfs if len(p)]
    if dfs:
        arr = _extract(pd.concat(dfs, ignore_index=True))
    else:
        # timeout invocation (buffer flush) or empty batch
        arr = {k: np.empty(0, dtype=dt) for k, dt in _BUF_DTYPES}
    buffering = late_policy == "buffer"

    nc = len(CARRIED)
    if state.exists:
        got = state.get
        carry = {
            f: {k: np.asarray(v, dtype=np.float64) for k, v in got[i].items()}
            for i, f in enumerate(CARRIED)
        }
        last_us, last_turn, n_late = got[nc:nc + 3]
        pend = {
            k: np.asarray(got[nc + 3 + i], dtype=dt)
            for i, (k, dt) in enumerate(_BUF_DTYPES)
        }
    else:
        # no cross-batch high-water mark yet — sentinel below any real
        # timestamp so an intra-batch replay in the conversation's FIRST
        # batch still routes through the late policy
        last_us, last_turn, n_late = -(2**63), -1, 0
        carry = {f: {} for f in CARRIED}
        pend = {k: np.empty(0, dtype=dt) for k, dt in _BUF_DTYPES}

    if buffering:
        wm_us = max(state.getCurrentWatermarkMs(), 0) * 1000
        arr, pend = _release(pend, arr, wm_us)

    def _persist():
        state.update((
            *[{k: v.tolist() for k, v in carry[f].items()} for f in CARRIED],
            int(last_us), int(last_turn), int(n_late),
            *[pend[k].tolist() for k, _ in _BUF_DTYPES],
        ))
        if buffering and len(pend["us"]):
            # flush the remainder as soon as the watermark next advances
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        if metrics is not None and buffering:
            metrics["buffer_peak_depth"].add(int(len(pend["us"])))

    if len(arr["us"]):
        late = _late_mask(arr["us"], arr["turn"], last_us, last_turn)
        keep, dropped = _apply_late_policy(
            arr["us"], arr["turn"], late,
            "drop" if buffering else late_policy,
            key[0], last_us, last_turn,
        )
        if keep is not None:
            arr = _take(arr, keep)
        n_late += dropped
        if metrics is not None and dropped:
            metrics["n_late"].add(int(dropped))
    if not len(arr["us"]):
        if state.exists or buffering:
            _persist()
        return

    out = _features(key[0], arr, carry)
    last_us, last_turn = int(arr["us"][-1]), int(arr["turn"][-1])
    _persist()
    yield out


def streaming_prefix_features(
    stream: DataFrame,
    late_policy: str = "error",
    watermark_delay: str = "0 seconds",
    state_metrics: dict | None = None,
) -> DataFrame:
    """Per-turn prefix features (cooc lag 1 / 4 levels, xcooc lag 1, the
    18 run-length stats of the four signals, and the 7 shape moment
    stats) over a live transcript stream, state-incremental per
    conversation.

    ``late_policy``: what to do with rows that arrive at or before the
    conversation's (ts, turn_idx) high-water mark —

    - ``'error'`` (default): fail the query loudly.
    - ``'drop'``: skip them (deficit observable by comparing input vs
      output row counts).
    - ``'buffer'``: hold EVERY row in state until the event-time
      watermark (``withWatermark('ts', watermark_delay)``, applied here)
      passes it, then release in (ts, turn_idx) order — micro-batches
      shuffled within the watermark delay reproduce the exact batch
      output (event-time-timeout flushes quiesced conversations as the
      watermark advances; rows late beyond even the watermark fall back
      to drop-with-count). Buffer size is bounded by the rows arriving
      inside one watermark delay per conversation.

    ``state_metrics``: optional dict from
    :func:`streaming_state_metrics` — per-micro-batch drop counts and
    peak pending-buffer depth become driver-observable accumulators
    (at-least-once; see that function's docstring)."""
    if late_policy not in ("error", "drop", "buffer"):
        raise ValueError(
            "late_policy must be 'error', 'drop' or 'buffer', "
            f"got {late_policy!r}"
        )

    def fn(key, pdfs, state):
        return _update(key, pdfs, state, late_policy, state_metrics)

    src = stream.select(
        "conv_id", "turn_idx", "role", "tool",
        epoch_us("ts").alias("ts_us"),
        F.length("text").cast("double").alias("tlen"),
    )
    timeout = GroupStateTimeout.NoTimeout
    if late_policy == "buffer":
        # watermarks need a TIMESTAMP column; the kernels read ts_us
        src = src.withColumn(
            "ts", F.timestamp_micros("ts_us")
        ).withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return src.groupBy("conv_id").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )
