"""Custom stateful streaming operators via ``applyInPandasWithState``.

The built-in streaming surfaces (windowed aggregation, ``session_window``)
cover the engine's tier rollups and sessionization; what they cannot
express is ROW-LEVEL state carried across micro-batches — e.g. "the delta
of this sample vs the key's previous sample" when the previous sample
arrived minutes and several micro-batches ago. That is per-key persistent
state: ``applyInPandasWithState`` keeps one small state blob per key in
the state store (checkpointed, exactly-once with the sink contract) and
hands each micro-batch's rows for that key to a vectorized pandas kernel.

Every operator here is one call to :func:`_fold`, the single carried-state
primitive: it concatenates a key's micro-batch rows, stable-sorts them,
hands them with the key's carried state to the operator's vectorized
``step``, stores the state ``step`` returns and emits its frame behind the
key column. It is the one place a streaming micro-batch crosses into
Python. An operator is its argument checks, its ``base`` projection, its
output and state fields, and its ``step``.

``streaming_counter_rate`` is the batch ``operators/counters.counter_rate``
re-expressed for streams: state = (last_ts_ms, last_value) — constant
size per key, unbounded keys bounded only by key cardinality (NOT by
time, hence no watermark requirement).

Ordering contract: WITHIN a micro-batch rows are sorted by the kernel;
ACROSS micro-batches samples of a key are assumed in-order (the standard
contract for scrape/metric pipelines — a sample older than the key's
state is flagged ``out_of_order`` with null delta/rate rather than
silently differenced against the wrong predecessor).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tablecloth_time_spark.functions.timeops import to_epoch_millis
from tablecloth_time_spark.functions.units import milliseconds_in, normalize_unit


def _fold(
    base: DataFrame,
    key_col: str,
    sort_col: str | None,
    out_fields: list[tuple[str, DataType]],
    state_fields: list[tuple[str, DataType]],
    step: Callable[
        [pd.DataFrame, tuple | None], tuple[tuple | None, pd.DataFrame | None]
    ],
) -> DataFrame:
    """Per-key carried-state fold over a stream, append mode, no timeout.

    Per key and micro-batch, ``step(pdf, state)`` gets the key's rows
    stable-sorted by ``sort_col`` (``None`` keeps arrival order) and the
    key's state tuple (``None`` for a key never seen). It returns
    ``(new_state, out)``: a non-None ``new_state`` replaces the carried
    state (``None`` leaves it as it was, or absent); a non-None ``out`` is
    emitted with the key column prepended. The output schema is the key
    field of ``base.schema`` followed by ``out_fields``.
    """

    def struct(fields: list[tuple[str, DataType]]) -> StructType:
        return StructType([StructField(n, t) for n, t in fields])

    def kernel(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            return
        if sort_col is not None:
            pdf = pdf.sort_values(sort_col, kind="stable")
        new_state, out = step(pdf, state.get if state.exists else None)
        if new_state is not None:
            state.update(new_state)
        if out is not None:
            out.insert(0, key_col, pdf[key_col].iloc[0])
            yield out

    return base.groupBy(key_col).applyInPandasWithState(
        kernel,
        struct([(key_col, base.schema[key_col].dataType), *out_fields]),
        struct(state_fields),
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _effective_prev(
    ms: np.ndarray, last_ms: int | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Effective predecessor timestamp per row of a ts-SORTED batch.

    Row i's in-batch predecessor is row i-1 — but when that row is
    itself LATE (older than the carried state), the true predecessor is
    the state. Without this, a batch mixing one late row with in-order
    rows silently differences the in-order row against the late one.
    Shared by every cross-batch stateful kernel here (the same subtle
    contract must not fork per operator).

    Returns (prev_ms float64 — NaN where undefined, has_prev bool —
    False only on the first row of a never-seen key, use_state bool —
    rows whose predecessor is the carried state, for substituting any
    carried companion values such as counter_rate's last_v).
    """
    prev_ms = np.roll(ms, 1).astype(np.float64)
    has_prev = np.ones(len(ms), dtype=bool)
    use_state = np.zeros(len(ms), dtype=bool)
    if last_ms is None:
        has_prev[0] = False
        prev_ms[0] = np.nan
    else:
        use_state[0] = True
        use_state[1:] = prev_ms[1:] < float(last_ms)
        prev_ms = np.where(use_state, float(last_ms), prev_ms)
    return prev_ms, has_prev, use_state


def streaming_counter_rate(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    reset_aware: bool = True,
) -> DataFrame:
    """Streaming reset-aware counter delta/rate with per-key state.

    Output (append, one row per input sample): key, ts_ms, value, delta,
    rate_per_s, out_of_order. First sample of a key ever seen -> null
    delta/rate. Semantics match batch ``counter_rate`` when samples arrive
    in order (pinned by tests/test_streaming.py).
    """

    def step(pdf, state):
        ms = pdf["ts_ms"].to_numpy(dtype=np.int64)
        v = pdf["value"].to_numpy(dtype=np.float64)
        last_ms, last_v = state if state is not None else (None, None)

        prev_ms, has_prev, use_state = _effective_prev(ms, last_ms)
        prev_v = np.roll(v, 1)
        if last_ms is None:
            prev_v[0] = np.nan
        else:
            prev_v = np.where(use_state, last_v, prev_v)

        ooo = has_prev & (ms < prev_ms)  # older than the effective predecessor
        raw = v - prev_v
        delta = np.where(reset_aware & (raw < 0), v, raw)
        dt_s = (ms - prev_ms) / 1000.0
        with np.errstate(divide="ignore", invalid="ignore"):
            rate = np.where(dt_s > 0, delta / dt_s, np.nan)
        delta = np.where(has_prev & ~ooo, delta, np.nan)
        rate = np.where(has_prev & ~ooo, rate, np.nan)

        # never move state backward: a wholly-late micro-batch (batch max
        # older than the carried state) must not regress last_ms, or the
        # NEXT in-order sample would difference against the wrong
        # predecessor (rows are sorted, so ms[-1] is the batch max).
        # STRICTLY greater: a replayed duplicate carrying the exact state
        # timestamp must not overwrite last_v with the replayed value —
        # the first delivery's value stays the predecessor (ties keep
        # existing state).
        advance = last_ms is None or int(ms[-1]) > last_ms
        out = pd.DataFrame(
            {
                "ts_ms": ms,
                "value": v,
                "delta": delta,
                "rate_per_s": rate,
                "out_of_order": ooo,
            }
        )
        return ((int(ms[-1]), float(v[-1])) if advance else None), out

    base = stream.select(
        key_col,
        to_epoch_millis(ts_col).alias("ts_ms"),
        F.col(value_col).cast("double").alias("value"),
    )
    return _fold(
        base, key_col, "ts_ms",
        [("ts_ms", LongType()), ("value", DoubleType()),
         ("delta", DoubleType()), ("rate_per_s", DoubleType()),
         ("out_of_order", BooleanType())],
        [("last_ms", LongType()), ("last_v", DoubleType())],
        step,
    )


def streaming_cusum(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    mu_col: str = "mu",
    sd_col: str = "sd",
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Streaming two-sided CUSUM drift detection — the batch
    ``operators/stats.cusum_scores`` re-expressed for live streams.

    The baseline (``mu_col``, ``sd_col``) must ride the stream: batch
    CUSUM standardizes against the key's global mean/stddev, which a
    stream cannot know — calibrate offline (e.g. the batch operator's
    broadcast stats) and attach via a stream-static join, or ``F.lit``
    constants for a fixed reference. State per key is just the pair
    (S+, S-) — 16 bytes, no watermark needed.

    Within a micro-batch the clipped recurrence is vectorized with the
    same prefix identity the batch plan uses, extended by the carried
    state: with ``P = cumsum(z - k)`` and prior ``s0``,

        S+_t = P_t - min(running_min(P), -s0)

    (the extra candidate ``-s0`` is the carry: S+_t >= s0 + P_t).
    Samples are assumed in-order per key across micro-batches (the
    ``streaming_counter_rate`` contract); rows are sorted within each
    batch. Null values contribute zero drift and emit the carried score
    (matching the batch plan, where null terms pass through the window
    sum); rows BEFORE a key's first valid sample emit null scores, again
    matching batch (the window sum over all-null terms is NULL) — state
    absent encodes "no valid sample seen yet". A non-positive, null, or
    non-finite ``sd`` is handled PER ROW (a batch may mix baselines):
    the row emits null scores and a false flag, contributes zero drift,
    and the carried trajectory passes through it untouched — z = inf
    from a zero sd never reaches the cumsum or the state.

    Output (append): key, ts_ms, value, cusum_pos, cusum_neg, is_drift.
    """

    def step(pdf, state):
        v = pdf["value"].to_numpy(dtype=np.float64)
        mu = pdf["__mu"].to_numpy(dtype=np.float64)
        sd = pdf["__sd"].to_numpy(dtype=np.float64)

        def frame(sp: np.ndarray, sn: np.ndarray) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "ts_ms": pdf["ts_ms"].to_numpy(dtype=np.int64),
                    "value": v,
                    "cusum_pos": sp,
                    "cusum_neg": sn,
                    "is_drift": np.where(
                        np.isnan(sp), False, (sp > h) | (sn > h)
                    ).astype(bool),
                }
            )

        # PER-ROW baseline validity (mu/sd may ride the stream as
        # columns, so a batch can MIX valid and invalid-sd rows): an
        # invalid-sd row contributes zero drift, emits null scores, and
        # the carried trajectory passes through it untouched — z=inf
        # from sd=0 must never reach the cumsum or the state.
        bad_sd = ~(np.isfinite(sd) & (sd > 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            z = np.where(bad_sd, np.nan, (v - mu) / sd)
        # null/NaN values drift nothing and emit the carried score
        # (batch parity: null terms pass through the window sum)
        nan_z = np.isnan(z)
        xp = np.where(nan_z, 0.0, z - k)
        xn = np.where(nan_z, 0.0, -z - k)

        # batch parity for series HEADS: before the key's first valid
        # sample the batch window sum is over all-null terms -> NULL
        # score. State absent == "no valid sample seen yet", so a head
        # batch with no valid sample emits nulls and creates no state.
        if state is not None:
            sp0, sn0 = state
            start = 0
        else:
            valid_idx = np.flatnonzero(~nan_z)
            if not len(valid_idx):
                nulls = np.full(len(v), np.nan)
                return None, frame(nulls, nulls)
            sp0, sn0 = 0.0, 0.0
            start = int(valid_idx[0])

        def one_sided(x: np.ndarray, s0: float) -> np.ndarray:
            prefix = np.cumsum(x)
            runmin = np.minimum.accumulate(prefix)
            return prefix - np.minimum(runmin, -s0)

        sp = np.full(len(v), np.nan)
        sn = np.full(len(v), np.nan)
        sp[start:] = one_sided(xp[start:], sp0)
        sn[start:] = one_sided(xn[start:], sn0)
        new_state = (float(sp[-1]), float(sn[-1]))
        # emit null (not carried) scores on invalid-sd rows — the
        # documented contract; the new state above already took the
        # pass-through trajectory value
        sp = np.where(bad_sd, np.nan, sp)
        sn = np.where(bad_sd, np.nan, sn)
        return new_state, frame(sp, sn)

    base = stream.select(
        key_col,
        to_epoch_millis(ts_col).alias("ts_ms"),
        F.col(value_col).cast("double").alias("value"),
        F.col(mu_col).cast("double").alias("__mu"),
        F.col(sd_col).cast("double").alias("__sd"),
    )
    return _fold(
        base, key_col, "ts_ms",
        [("ts_ms", LongType()), ("value", DoubleType()),
         ("cusum_pos", DoubleType()), ("cusum_neg", DoubleType()),
         ("is_drift", BooleanType())],
        [("sp", DoubleType()), ("sn", DoubleType())],
        step,
    )


def streaming_detect_gaps(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    threshold: int,
    unit: str = "minute",
) -> DataFrame:
    """Streaming coverage-gap detection — the batch
    ``operators/counters.detect_gaps`` re-expressed with carried per-key
    state, so a backfill pipeline learns about a missing span the moment
    the sample that CLOSES it arrives instead of at the next batch scan.

    State per key is a single int64 (last ts in ms). Within a micro-batch
    rows are sorted and differenced against their effective predecessor
    (in-batch neighbor, or the carried state when the neighbor is late —
    the ``streaming_counter_rate`` contract). Emitted rows (append):

    - a gap row per consecutive pair more than ``threshold`` ``unit``s
      apart: (key, gap_start_ms, gap_end_ms, gap_s, out_of_order=false),
      matching batch ``detect_gaps`` exactly on in-order input;
    - a flagged row per LATE sample (older than its effective
      predecessor): gap_s null, out_of_order=true — lateness is surfaced,
      never silently differenced (and never updates state backward).

    The first sample of a key ever seen opens the series: no gap row.
    Unlike the watermark-timer approach (which can report a *still-open*
    gap), this is exact and deterministic: a gap is emitted precisely
    when it closes, which is what a gap-FILL pipeline needs (only closed
    gaps are fillable).
    """
    thresh_ms = threshold * milliseconds_in(normalize_unit(unit))

    def step(pdf, state):
        ms = pdf["ts_ms"].to_numpy(dtype=np.int64)
        last_ms = state[0] if state is not None else None

        prev_ms, has_prev, _ = _effective_prev(ms, last_ms)
        ooo = has_prev & (ms < prev_ms)
        gap_ms = ms - prev_ms  # float64; ms values are far below 2**53
        emit = (has_prev & ~ooo & (gap_ms > thresh_ms)) | ooo

        # strict >: an exact-timestamp replay keeps the existing state
        # (same tie rule as streaming_counter_rate)
        advance = last_ms is None or int(ms[-1]) > last_ms
        new_state = (int(ms[-1]),) if advance else None
        if not emit.any():
            return new_state, None
        return new_state, pd.DataFrame(
            {
                "gap_start_ms": prev_ms[emit].astype(np.int64),
                "gap_end_ms": ms[emit],
                "gap_s": np.where(
                    ooo[emit], np.nan, gap_ms[emit] / 1000.0
                ),
                "out_of_order": ooo[emit],
            }
        )

    base = stream.select(
        key_col, to_epoch_millis(ts_col).alias("ts_ms")
    )
    return _fold(
        base, key_col, "ts_ms",
        [("gap_start_ms", LongType()), ("gap_end_ms", LongType()),
         ("gap_s", DoubleType()), ("out_of_order", BooleanType())],
        [("last_ms", LongType())],
        step,
    )


def streaming_funnel(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    steps: list[str],
    within: int | None = None,
    unit: str = "hour",
) -> DataFrame:
    """Streaming ordered k-step funnel — the batch
    ``operators/cohorts.funnel`` re-expressed with per-key progress
    state, so a conversion is visible the micro-batch it completes
    instead of at the next batch job.

    State per key is (stage, first-step time, last-completed time) plus
    the completed step times — a few dozen bytes. Within a micro-batch
    the advance is computed with at most k VECTORIZED passes over the
    batch's rows (first qualifying row per remaining step — the same
    "first B at/after A" contract as batch, ``>=`` on ties within the
    sorted batch order); no per-row Python. Samples are assumed in-order
    per key across micro-batches (the ``streaming_counter_rate``
    contract). ``within`` bounds completion to ``within x unit`` after
    step 1, exactly as in batch.

    Output (append): one row per key per micro-batch IN WHICH THE KEY
    ADVANCED at least one stage — (key, steps_completed, step_ts_ms
    array<long> with nulls for uncompleted steps, converted). The last
    emitted row per key always equals the batch ``funnel`` verdict on
    the same closed input (pinned by tests).
    """
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps, got {steps!r}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps!r}")
    k = len(steps)
    deadline_ms = (
        within * milliseconds_in(normalize_unit(unit))
        if within is not None
        else None
    )

    def step(pdf, state):
        ms = pdf["ts_ms"].to_numpy(dtype=np.int64)
        st = pdf["step"].to_numpy()
        if state is not None:
            stage, times = int(state[0]), list(state[1:])
        else:
            stage, times = 0, [None] * k

        advanced = False
        while stage < k:
            target = steps[stage]
            mask = st == target
            if stage > 0:
                mask &= ms >= times[stage - 1]
                if deadline_ms is not None:
                    mask &= ms <= times[0] + deadline_ms
            hits = np.flatnonzero(mask)
            if not len(hits):
                break
            times[stage] = int(ms[hits[0]])
            stage += 1
            advanced = True

        # emit (and write state) only on an advance
        if not advanced:
            return None, None
        times = [None if t is None else int(t) for t in times]
        return (stage, *times), pd.DataFrame(
            {
                "steps_completed": np.array([stage], dtype="int32"),
                "step_ts_ms": [times],
                "converted": [stage == k],
            }
        )

    base = stream.select(
        key_col,
        to_epoch_millis(ts_col).alias("ts_ms"),
        F.col(step_col).alias("step"),
    )
    return _fold(
        base, key_col, "ts_ms",
        [("steps_completed", IntegerType()),
         ("step_ts_ms", ArrayType(LongType())),
         ("converted", BooleanType())],
        # stage + k completed-step times (null past the stage)
        [("stage", IntegerType())]
        + [(f"t{i}", LongType()) for i in range(1, k + 1)],
        step,
    )


def streaming_ewma(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    halflife: int,
    unit: str = "minute",
) -> DataFrame:
    """Streaming time-decay EWMA (adjusted form) — the batch
    ``operators/counters.ewma`` re-expressed with per-key carried sums.

    Same definition: ewma_i = sum_j 0.5^((t_i-t_j)/h) x_j / sum_j of the
    weights, over the key's ENTIRE history. The carried state is the
    pair of weighted sums expressed at the key's latest 512-halflife
    segment anchor (the same ABSOLUTE epoch-anchored segments the batch
    plan uses): (last_seg, A_num, A_den) — with every decay exponent
    non-negative, nothing overflows however far apart samples are.

    Within a micro-batch the work is vectorized: per-segment anchored
    prefix sums (2^dloc stays in [1, 2^512]) plus a carry chain ACROSS
    segments — a Python loop over 512-halflife segments, never over
    rows. A row's ewma is (carry + prefix)_num / (carry + prefix)_den:
    the row's own 0.5^dloc factor cancels in the ratio.

    Semantics shared with batch: null/NaN values contribute nothing and
    emit the carried mean; rows before a key's first valid sample emit
    null. In the batch plan's documented deep-gap corner (the whole
    history >= ~1025 halflives back) batch may null where this chain
    still emits the (sub-ULP-weighted) stale mean — both are inside the
    batch docstring's fuzzy band, and for any gap >= 2560 halflives both
    underflow to exactly null.

    Output (append): key, ts_ms, value, ewma. In-order contract across
    micro-batches (the ``streaming_counter_rate`` contract).
    """
    halflife_ms = int(halflife * milliseconds_in(normalize_unit(unit)))
    seg_ms = 512 * halflife_ms

    def step(pdf, state):
        ms = pdf["ts_ms"].to_numpy(dtype=np.int64)
        v = pdf["value"].to_numpy(dtype=np.float64)

        seg = ms // seg_ms
        dloc = (ms - seg * seg_ms).astype(np.float64) / float(halflife_ms)
        w = np.exp2(dloc)
        valid = ~np.isnan(v)  # null AND NaN are missing (batch parity)
        wx = np.where(valid, w * v, 0.0)
        wd = np.where(valid, w, 0.0)

        # per-segment anchored prefix sums. Each segment's cumsum runs
        # over ITS OWN slice — a single global cumsum would mix scales
        # 2^512 apart and float64-absorb the next segment's rows into
        # the previous segment's huge total (then the base subtraction
        # cancels them to noise). Loop is over SEGMENTS, not rows.
        starts = np.flatnonzero(np.diff(seg, prepend=seg[0] - 1))
        bounds = np.append(starts, len(ms))
        px = np.empty_like(wx)
        pd_ = np.empty_like(wd)
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            px[b0:b1] = np.cumsum(wx[b0:b1])
            pd_[b0:b1] = np.cumsum(wd[b0:b1])

        # carry chain across the batch's segments (loop over SEGMENTS)
        segs = seg[starts]
        last_seg, a_num, a_den = state if state is not None else (None, 0.0, 0.0)
        carry_x = np.empty(len(starts))
        carry_d = np.empty(len(starts))
        cx, cd, prev_seg = a_num, a_den, last_seg
        for i, s in enumerate(segs):
            if prev_seg is not None:
                f = 2.0 ** (-512.0 * float(s - prev_seg))
                cx, cd = cx * f, cd * f
            else:
                cx, cd = 0.0, 0.0
            carry_x[i], carry_d[i] = cx, cd
            # close this segment into the carry for the next one
            end = starts[i + 1] - 1 if i + 1 < len(starts) else len(ms) - 1
            cx, cd = cx + px[end], cd + pd_[end]
            prev_seg = s
        row_cx = np.repeat(carry_x, np.diff(bounds))
        row_cd = np.repeat(carry_d, np.diff(bounds))

        num = row_cx + px
        den = row_cd + pd_
        with np.errstate(divide="ignore", invalid="ignore"):
            ewma = np.where(den > 0, num / den, np.nan)

        return (int(segs[-1]), float(cx), float(cd)), pd.DataFrame(
            {"ts_ms": ms, "value": v, "ewma": ewma}
        )

    base = stream.select(
        key_col,
        to_epoch_millis(ts_col).alias("ts_ms"),
        F.col(value_col).cast("double").alias("value"),
    )
    return _fold(
        base, key_col, "ts_ms",
        [("ts_ms", LongType()), ("value", DoubleType()),
         ("ewma", DoubleType())],
        [("last_seg", LongType()), ("a_num", DoubleType()),
         ("a_den", DoubleType())],
        step,
    )


def streaming_budget_prefix(
    stream: DataFrame,
    key_col: str,
    pos_col: str,
    cost_col: str,
    budget: int,
) -> DataFrame:
    """Streaming twin of ``operators/transcripts.budget_prefix``: emit
    each arriving turn of a conversation WHILE the running token cost
    stays within ``budget`` — the live-ingest context trim, deciding
    per turn the moment it lands instead of re-scanning the
    conversation per batch.

    State per key is two int64s: (highest position processed, running
    cumulative cost over ALL processed rows). Because costs are
    non-negative (the batch operator's documented contract), the
    running cost is monotone — once a turn overflows the budget every
    later turn is over it too, so the emit condition simply stays
    false; no "closed" flag is needed and over-budget turns are
    DROPPED exactly as the batch filter drops them.

    Ordering contract (the ``streaming_counter_rate`` family's): within
    a micro-batch rows sort by ``pos_col``; across micro-batches a
    key's turns are assumed in order. A row at or below the key's
    carried position (late replay / duplicate) is emitted FLAGGED
    (out_of_order=true, null cum_cost) and does not touch the running
    cost — never silently mis-accumulated. Null costs count 0 (batch
    contract).

    Output (append): key, pos, cum_cost (double), out_of_order. On a
    closed in-order input, rows with out_of_order=false match the batch
    ``budget_prefix``'s (key, pos, cum_cost) exactly (pinned) — the
    running cost accumulates in float64 and compares against the budget
    BEFORE any cast, so fractional costs (e.g. weighted token counts)
    trim at the same turn as the batch operator; integer costs are
    exact up to 2**53, far above any real context budget.
    """
    if budget <= 0:
        raise ValueError(
            f"streaming_budget_prefix: budget must be > 0, got {budget}"
        )

    def step(pdf, state):
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        cost = pdf["cost"].to_numpy(dtype=np.float64)
        cost = np.where(np.isnan(cost), 0.0, cost)  # null costs count 0

        last_pos, cum = state if state is not None else (None, 0.0)
        # late = at/below the carried position, or a duplicate of an
        # earlier in-batch position (sorted, so a dup == its neighbor)
        ooo = np.zeros(len(pos), dtype=bool)
        if last_pos is not None:
            ooo |= pos <= last_pos
        dup = np.zeros(len(pos), dtype=bool)
        dup[1:] = pos[1:] == pos[:-1]
        ooo |= dup
        valid = ~ooo

        run = cum + np.cumsum(np.where(valid, cost, 0))
        keep = valid & (run <= budget)

        new_state = None
        if valid.any():
            new_last = int(pos[valid].max())
            new_state = (
                new_last if last_pos is None else max(last_pos, new_last),
                float(cum + cost[valid].sum()),
            )
        emit = keep | ooo
        if not emit.any():
            return new_state, None
        return new_state, pd.DataFrame(
            {
                "pos": pos[emit],
                "cum_cost": np.where(ooo[emit], np.nan, run[emit]),  # late: unknown
                "out_of_order": ooo[emit],
            }
        )

    base = stream.select(
        key_col,
        F.col(pos_col).cast("long").alias("pos"),
        F.col(cost_col).cast("double").alias("cost"),
    )
    return _fold(
        base, key_col, "pos",
        [("pos", LongType()), ("cum_cost", DoubleType()),
         ("out_of_order", BooleanType())],
        [("last_pos", LongType()), ("cum", DoubleType())],
        step,
    )


def streaming_type_entropy(
    stream: DataFrame,
    key_col: str,
    cat_col: str,
) -> DataFrame:
    """Streaming twin of ``operators/stats.categorical_entropy``: per-key
    Shannon entropy of the category distribution, maintained across
    micro-batches so the diversity signal is live instead of a nightly
    batch job.

    State per key is the per-category count map (two parallel arrays in
    the state store) — size bounded by the key's CATEGORY VOCABULARY,
    not by row count or time, so no watermark is required (the
    ``streaming_counter_rate`` state-cardinality contract). Each
    micro-batch folds its pandas ``value_counts`` into the map in one
    vectorized pass; no per-row Python.

    Output (append): one row per key per micro-batch in which the key
    received rows — (key, n_rows, n_distinct, entropy_bits,
    norm_entropy), computed over the category counts in SORTED category
    order so the float summation is deterministic. The LAST emitted row
    per key equals the batch operator on the same closed input (same
    H = log2(n) - sum(c*log2(c))/n identity; equality is within float
    summation-order noise, pinned <= 1e-9 bits by tests). Categories are
    carried as strings; NULL categories count as a category of their
    own, exactly as in batch.
    """

    def step(pdf, state):
        d = dict(zip(*state)) if state is not None else {}
        for cat, c in pdf["cat"].value_counts(dropna=False).items():
            ck = None if pd.isna(cat) else str(cat)
            d[ck] = d.get(ck, 0) + int(c)

        # deterministic float order: NULL category first, then sorted
        items = sorted(d.items(), key=lambda kv: (kv[0] is not None, kv[0] or ""))
        c_arr = np.array([v for _, v in items], dtype=np.float64)
        n = c_arr.sum()
        k = len(c_arr)
        ent = float(np.log2(n) - (c_arr * np.log2(c_arr)).sum() / n)
        norm = float(ent / np.log2(k)) if k > 1 else 0.0
        return (list(d.keys()), list(d.values())), pd.DataFrame(
            {
                "n_rows": np.array([int(n)], dtype="int64"),
                "n_distinct": np.array([k], dtype="int32"),
                "entropy_bits": [ent],
                "norm_entropy": [norm],
            }
        )

    base = stream.select(
        key_col, F.col(cat_col).cast("string").alias("cat")
    )
    return _fold(
        base, key_col, None,
        [("n_rows", LongType()), ("n_distinct", IntegerType()),
         ("entropy_bits", DoubleType()), ("norm_entropy", DoubleType())],
        [("cats", ArrayType(StringType())), ("counts", ArrayType(LongType()))],
        step,
    )


def streaming_sortedness(
    stream: DataFrame,
    key_col: str,
    order_col: str,
    ts_col: str,
) -> DataFrame:
    """Streaming ingest-order monitor — the stateful twin of the batch
    ``operators.validate.sortedness_report``: per key, flag every row
    whose event time is NULL or runs backward against the immediately
    preceding row (in ``order_col`` arrival order), carrying the
    predecessor across micro-batches.

    Output (append, one row per input row): key, <order_col>, ts_ms,
    is_null, is_violation. Aggregating the flags per key reproduces the
    batch report's n_rows / n_nulls / n_violations / is_sorted EXACTLY
    when micro-batches respect the arrival order (pinned by
    tests/test_streaming_sortedness.py) — which ``order_col`` guarantees
    by construction when it is the ingest sequence number.

    Violation semantics match the batch operator bit-for-bit: the
    comparison predecessor is the previous ROW's timestamp (which may
    itself be NULL — then no violation can fire at this row), nulls have
    no order, monotonicity is non-strict. State per key is 10 bytes
    (nullable prev-ms + has-prev), so 10^9 live keys fit comfortably in
    executor state stores.
    """

    def step(pdf, state):
        ms = pdf["ts_ms"].to_numpy(dtype="float64")  # NULL -> NaN
        prev = np.roll(ms, 1)
        prev_ms, has_prev = state if state is not None else (None, False)
        prev[0] = float(prev_ms) if (has_prev and prev_ms is not None) else np.nan
        is_null = np.isnan(ms)
        with np.errstate(invalid="ignore"):
            viol = ~is_null & ~np.isnan(prev) & (ms < prev)
        last = ms[-1]
        return (None if np.isnan(last) else int(last), True), pd.DataFrame(
            {
                order_col: pdf[order_col].to_numpy(),
                "ts_ms": pd.array(ms, dtype="Float64").astype("Int64"),
                "is_null": is_null,
                "is_violation": viol,
            }
        )

    base = stream.select(
        key_col,
        order_col,
        to_epoch_millis(ts_col).alias("ts_ms"),
    )
    return _fold(
        base, key_col, order_col,
        [(order_col, base.schema[order_col].dataType),
         ("ts_ms", LongType()), ("is_null", BooleanType()),
         ("is_violation", BooleanType())],
        [("prev_ms", LongType()), ("has_prev", BooleanType())],
        step,
    )


def streaming_alternation_runs(
    stream: DataFrame,
    key_col: str,
    order_col: str,
    role_col: str,
) -> DataFrame:
    """Streaming twin of ``operators.transcripts.alternation_runs``: the
    per-key dialogue run-length profile maintained incrementally — one
    row per key per micro-batch carrying the RUNNING profile (n_turns,
    n_runs, max/mean run length, alternation ratio, longest-run role);
    the last emission per key equals the batch operator on the full
    input when micro-batches respect arrival order (pinned by
    tests/test_streaming_sortedness.py).

    State per key is one small tuple: the previous role (null-safe — a
    NULL role is its own run value, exactly the batch semantics), the
    open run's length and role, the counters, and the best run so far.
    Earliest-run tie-breaking falls out of the scan order: a later run
    only replaces the champion when STRICTLY longer. applyInPandasWithState
    keeps the whole profile at ~60 bytes/key, so 10^9 live conversations
    fit executor state stores.
    """

    def step(pdf, state):
        has_prev, prev_role, n_turns, n_runs, cur_len, best_len, best_role = (
            state if state is not None else (False, None, 0, 0, 0, 0, None)
        )
        for r in pdf["role"].to_numpy(dtype=object):
            r = None if pd.isna(r) else r
            n_turns += 1
            if has_prev and r == prev_role:
                cur_len += 1
            else:
                n_runs += 1
                cur_len = 1
            if cur_len > best_len:
                best_len, best_role = cur_len, r
            has_prev, prev_role = True, r
        new_state = (has_prev, prev_role, int(n_turns), int(n_runs),
                     int(cur_len), int(best_len), best_role)
        return new_state, pd.DataFrame(
            {
                "n_turns": np.array([n_turns], dtype="int64"),
                "n_runs": np.array([n_runs], dtype="int64"),
                "max_run_len": np.array([best_len], dtype="int64"),
                "mean_run_len": [n_turns / n_runs],
                "alternation_ratio": [
                    (n_runs - 1) / (n_turns - 1) if n_turns > 1 else np.nan
                ],
                "longest_run_role": [best_role],
            }
        )

    base = stream.select(
        key_col, order_col, F.col(role_col).cast("string").alias("role")
    )
    return _fold(
        base, key_col, order_col,
        [("n_turns", LongType()), ("n_runs", LongType()),
         ("max_run_len", LongType()), ("mean_run_len", DoubleType()),
         ("alternation_ratio", DoubleType()),
         ("longest_run_role", StringType())],
        [("has_prev", BooleanType()), ("prev_role", StringType()),
         ("n_turns", LongType()), ("n_runs", LongType()),
         ("cur_len", LongType()), ("best_len", LongType()),
         ("best_role", StringType())],
        step,
    )
