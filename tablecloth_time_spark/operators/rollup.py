"""Tiered rollup / downsample ("adjust-frequency") with skew-safe aggregation.

The reference deliberately defines resampling as the composition
*bucket column -> group-by -> aggregate* rather than a dedicated operator
(reference README.md:20-36, development-plan.md:424-455). This module is
that composition, made distributed and skew-safe:

- the bucket key is ``down_to_nearest(ts, interval, unit)`` — pure codegen;
- every aggregate is kept in a MERGEABLE partial form (count, sum, min, max,
  first/last as lexicographic min/max over an order struct, avg as
  (sum, count)), so tiers cascade: :func:`partial_cascade`, the one tier
  cascade (batch ``rollup_cascade`` and plans/continuous.py both use it),
  re-merges the finest tier's partial into every coarser tier instead of
  re-scanning raw data — at 100 TB the raw table is read ONCE for all tiers;
- optional explicit salting splits a mega-series (conv_id with 10^8 turns)
  across ``salt`` sub-groups before the final merge (two-phase partial/final
  aggregation). Spark's map-side partial hash aggregation already bounds
  groupBy skew for built-in aggs; the explicit salt stage exists for the
  paths where partials can't combine map-side (e.g. feeding applyInPandas
  codecs) and as the north-star-mandated explicit strategy.

Aggregate spec format: ``{output_name: (kind, source_col)}`` with kinds
``count | sum | min | max | avg | first | last``. first/last order by the
rollup's ``order_cols`` (stable (ts, turn_idx) ordering for transcripts).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tablecloth_time_spark.functions.timeops import down_to_nearest

BUCKET_COL = "bucket"

# DataSketches HLL precision for the "hll" aggregate kind: relative
# standard error ~= 1.04 / sqrt(2^lg_k) (~1.6% at 12), sketch ~= 2^lg_k
# bytes. One pipeline-wide constant — sketches only union losslessly at
# equal lg_k, and every tier/continuous merge must stay unionable.
HLL_LG_K = 12


@dataclass(frozen=True)
class _Agg:
    name: str
    kind: str
    src: str

    def partial_cols(self) -> list[str]:
        if self.kind == "avg":
            return [f"{self.name}__sum", f"{self.name}__cnt"]
        return [f"__p_{self.name}"]

    def partial_exprs(self, order_cols: list[str]) -> list[Column]:
        p = f"__p_{self.name}"
        if self.kind == "count":
            return [F.count(F.lit(1)).alias(p)]
        if self.kind == "sum":
            return [F.sum(self.src).alias(p)]
        if self.kind == "min":
            return [F.min(self.src).alias(p)]
        if self.kind == "max":
            return [F.max(self.src).alias(p)]
        if self.kind == "avg":
            return [
                F.sum(F.col(self.src).cast("double")).alias(f"{self.name}__sum"),
                F.count(self.src).alias(f"{self.name}__cnt"),
            ]
        if self.kind in ("first", "last"):
            # lexicographic struct min/max = value at the earliest/latest
            # (order_cols...) position; struct min/max is itself mergeable,
            # which is what lets first/last survive the tier cascade
            ordered = F.struct(
                *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
                F.col(self.src).alias("v"),
            )
            fn = F.min if self.kind == "first" else F.max
            return [fn(ordered).alias(p)]
        if self.kind == "hll":
            # DataSketches HLL: the partial is a BINARY sketch — storable
            # in parquet, so distinct counts survive retention tiers and
            # the continuous-aggregate seam (register-max union is
            # commutative/associative: unioning hour sketches yields the
            # IDENTICAL registers as sketching the day directly)
            return [F.hll_sketch_agg(self.src, F.lit(HLL_LG_K)).alias(p)]
        raise ValueError(f"unknown aggregate kind: {self.kind!r}")

    def merge_exprs(self) -> list[Column]:
        p = f"__p_{self.name}"
        if self.kind in ("count", "sum"):
            return [F.sum(p).alias(p)]
        if self.kind == "min":
            return [F.min(p).alias(p)]
        if self.kind == "max":
            return [F.max(p).alias(p)]
        if self.kind == "avg":
            return [
                F.sum(f"{self.name}__sum").alias(f"{self.name}__sum"),
                F.sum(f"{self.name}__cnt").alias(f"{self.name}__cnt"),
            ]
        if self.kind == "first":
            return [F.min(p).alias(p)]
        if self.kind == "last":
            return [F.max(p).alias(p)]
        if self.kind == "hll":
            return [F.hll_union_agg(p).alias(p)]
        raise ValueError(self.kind)

    def final_expr(self) -> Column:
        p = f"__p_{self.name}"
        if self.kind == "avg":
            return (
                F.col(f"{self.name}__sum") / F.col(f"{self.name}__cnt")
            ).alias(self.name)
        if self.kind in ("first", "last"):
            return F.col(p).getField("v").alias(self.name)
        if self.kind == "hll":
            return F.hll_sketch_estimate(F.col(p)).alias(self.name)
        return F.col(p).alias(self.name)


def _parse_aggs(aggs: dict[str, tuple[str, str]]) -> list[_Agg]:
    return [_Agg(name, kind, src) for name, (kind, src) in aggs.items()]


AGG_BUILDERS = ("count", "sum", "min", "max", "avg", "first", "last", "hll")


def _partial(
    df: DataFrame, keys: list[str], bucket: Column, aggs: dict[str, tuple[str, str]],
    order_cols: list[str], salt: int, bucket_col: str,
) -> DataFrame:
    """Raw rows -> one tier's partial, grouped by (keys, ``bucket``);
    ``salt > 1`` merges per-(keys, bucket, salt_id) partials (two-phase)."""
    partial_exprs = [e for s in _parse_aggs(aggs) for e in s.partial_exprs(order_cols)]
    if salt and salt > 1:
        salt_id = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt))
        p0 = df.groupBy(*keys, bucket, salt_id.alias("__salt")).agg(*partial_exprs)
        return merge_partials(p0, keys, aggs, bucket_col)
    return df.groupBy(*keys, bucket).agg(*partial_exprs)


def rollup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    interval: int,
    unit: str,
    aggs: dict[str, tuple[str, str]],
    order_cols: list[str] | None = None,
    salt: int = 0,
    bucket_col: str = BUCKET_COL,
    zone: str | None = None,
) -> DataFrame:
    """Single-tier rollup: groupBy(keys + time bucket) with mergeable aggs.

    ``salt > 0`` forces explicit two-phase aggregation: a first groupBy on
    (keys, bucket, salt_id) computes partials, a second merges them — the
    mega-thread skew strategy. With salt=0 Spark's built-in partial/final
    hash aggregation handles the two phases implicitly.

    ``zone`` buckets in that time zone's local calendar (DST-aware local
    days/months; see down_to_nearest) — the bucket column still holds UTC
    instants, so zoned tiers JOIN like any other. They do NOT feed the
    zone-less cascade paths (rollup_cascade / rollup_tiers_long /
    merge_partials rebucket): re-flooring a local-midnight UTC instant in
    the UTC calendar lands local days in the wrong coarser bucket —
    compute each zoned grain from raw data with its own rollup(zone=...)
    call instead.
    """
    bucket = down_to_nearest(ts_col, interval, unit, zone=zone).alias(bucket_col)
    partial = _partial(df, keys, bucket, aggs, order_cols or [ts_col], salt, bucket_col)
    return finalize_partials(partial, keys, aggs, bucket_col)


def hopping_rollup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    width: int,
    hop: int,
    unit: str,
    aggs: dict[str, tuple[str, str]],
    order_cols: list[str] | None = None,
    start_col: str = "window_start",
    end_col: str = "window_end",
) -> DataFrame:
    """Hopping (sliding) window rollup — the Flink ``HOP`` / overlapping
    ``GROUP BY window`` shape :func:`rollup` cannot express: windows of
    ``width`` units start at every multiple of ``hop`` units, so each
    sample lands in ceil(width/hop) windows. Emitted windows are exactly
    those containing >= 1 row (sparse, like every rollup here).

    Plan (hop <= width, the normal case): DELEGATES to Spark's native
    ``F.window(ts, width, hop)`` — the TimeWindowing rule compiles the
    sliding membership into a static ``Expand`` with exactly
    ceil(width/hop) pure projections (no array materialization, no
    Generate, whole-stage codegen intact), followed by ONE
    map-side-combined hash aggregate on (keys, window). An earlier
    draft generated the covering starts with ``sequence``+``explode``;
    the results are identical (pinned by test), but Expand replicates
    rows as projections while explode first allocates an ArrayData per
    input row — native wins, and it is the same operator Structured
    Streaming plans for sliding windows. At 100 TB keep width/hop
    modest (<= ~16) or pre-aggregate to a finer tumbling tier first and
    hop over that (aggs here are mergeable, so the two compose exactly).

    ``width < hop`` (dead zones between windows — Spark's F.window
    rejects it) is honored literally: each sample is in AT MOST one
    window, so the branch is a pure filter (``pmod(t, hop) < width``) +
    tumbling aggregate — no replication at all.
    """
    if width <= 0 or hop <= 0:
        raise ValueError(
            f"hopping_rollup: width and hop must be > 0, got {width}, {hop}"
        )
    from tablecloth_time_spark.functions.timeops import to_epoch_millis
    from tablecloth_time_spark.functions.units import (
        milliseconds_in,
        normalize_unit,
    )

    u = normalize_unit(unit)
    width_ms = width * milliseconds_in(u)
    hop_ms = hop * milliseconds_in(u)
    specs = _parse_aggs(aggs)
    order_cols = order_cols or [ts_col]
    partials = [e for s in specs for e in s.partial_exprs(order_cols)]

    if hop_ms <= width_ms:
        win = F.window(
            F.col(ts_col).cast("timestamp"),
            f"{width_ms} milliseconds",
            f"{hop_ms} milliseconds",
        )
        merged = df.groupBy(*keys, win.alias("__w")).agg(*partials)
        return merged.select(
            *keys,
            F.col("__w.start").alias(start_col),
            F.col("__w.end").alias(end_col),
            *[s.final_expr() for s in specs],
        )

    t = to_epoch_millis(ts_col)
    off = F.pmod(t, F.lit(hop_ms))
    survivors = df.select(
        "*", (t - off).alias("__ws")
    ).filter(off < F.lit(width_ms))
    merged = survivors.groupBy(*keys, "__ws").agg(*partials)
    return merged.select(
        *keys,
        F.timestamp_millis(F.col("__ws")).alias(start_col),
        F.timestamp_millis(F.col("__ws") + F.lit(width_ms)).alias(end_col),
        *[s.final_expr() for s in specs],
    )


def ohlc(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    interval: int,
    unit: str = "day",
    order_cols: list[str] | None = None,
    bucket_col: str = BUCKET_COL,
    zone: str | None = None,
) -> DataFrame:
    """Open/high/low/close candles per (keys, bucket) — the finance
    resample, as a pure composition of :func:`rollup`'s mergeable
    first/last/min/max aggregates (so OHLC candles cascade across tiers
    like any other rollup: minute candles merge into hourly into daily
    without re-reading raw data).

    ``order_cols`` pins which sample is "open"/"close" under equal
    timestamps (default: the timestamp alone).
    """
    return rollup(
        df,
        keys,
        ts_col,
        interval,
        unit,
        aggs={
            "open": ("first", value_col),
            "high": ("max", value_col),
            "low": ("min", value_col),
            "close": ("last", value_col),
        },
        order_cols=order_cols,
        bucket_col=bucket_col,
        zone=zone,
    )


# tier name -> (interval, unit): the one tier-grain table. Coarser tiers
# must be exact multiples of finer ones for the cascade to be lossless.
TIER_UNITS: dict[str, tuple[int, str]] = {
    "second": (1, "second"),
    "minute": (1, "minute"),
    "hour": (1, "hour"),
    "day": (1, "day"),
    "week": (1, "week"),
}

DEFAULT_TIERS = {t: TIER_UNITS[t] for t in ("second", "minute", "hour", "day")}


def partial_cascade(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, tuple[str, str]],
    tiers: dict[str, tuple[int, str]] | None = None,
    order_cols: list[str] | None = None,
    salt: int = 0,
    bucket_col: str = BUCKET_COL,
) -> dict[str, DataFrame]:
    """The tier cascade in partial form: {tier_name: partial DataFrame},
    finest first. Raw rows go to the finest tier's partial once; coarser
    tiers re-merge it (sums of sums, min of struct-mins, ...). The finest
    entry IS a cached frame: ``.unpersist()`` it once all tiers are used.
    """
    items = sorted(
        (tiers or DEFAULT_TIERS).items(), key=lambda kv: _bucket_width_ms(*kv[1])
    )
    (finest, (fi, fu)), coarser = items[0], items[1:]
    bucket = down_to_nearest(ts_col, fi, fu).alias(bucket_col)
    partial = _partial(
        df, keys, bucket, aggs, order_cols or [ts_col], salt, bucket_col
    ).cache()

    # every coarser tier re-merges the CACHED finest partial directly
    # (sums of sums are associative, so finest -> day equals
    # finest -> hour -> day). Chaining tier -> tier instead would make an
    # all-tiers action recompute each intermediate merge once per coarser
    # branch — Spark has no cross-branch common-subplan reuse beyond the
    # explicit cache.
    out = {finest: partial}
    for tier_name, grain in coarser:
        out[tier_name] = merge_partials(partial, keys, aggs, bucket_col, grain)
    return out


def rollup_cascade(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, tuple[str, str]],
    tiers: dict[str, tuple[int, str]] | None = None,
    order_cols: list[str] | None = None,
    salt: int = 0,
    bucket_col: str = BUCKET_COL,
) -> dict[str, DataFrame]:
    """:func:`partial_cascade`, finalized: {tier_name: DataFrame}. Its
    cached finest partial is not released; callers that must release it
    use ``partial_cascade`` + ``finalize_partials``."""
    return {
        name: finalize_partials(p, keys, aggs, bucket_col)
        for name, p in partial_cascade(
            df, keys, ts_col, aggs, tiers, order_cols, salt, bucket_col
        ).items()
    }


def rollup_tiers_long(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, tuple[str, str]],
    tiers: dict[str, tuple[int, str]] | None = None,
    order_cols: list[str] | None = None,
    bucket_col: str = BUCKET_COL,
    tier_col: str = "tier",
    zone: str | None = None,
) -> DataFrame:
    """ALL tiers in one Expand + ONE shuffle via GROUPING SETS, returned as
    a single long-format frame (tier, keys..., bucket, aggs...).

    ``zone`` buckets every tier in that zone's LOCAL calendar (the
    reference's ``floor-to-*`` ``{:zone}`` option) — safe HERE, unlike the
    cascade: each tier's bucket expression is computed independently from
    the raw ``ts_col`` inside the same Expand (no re-flooring of a coarser
    tier from a finer tier's local-midnight UTC instant, which is the
    misbucketing hazard that keeps ``rollup_cascade`` zone-less). Bucket
    columns still hold UTC instants of the local boundaries.

    Each input row expands once per tier (with that tier's bucket column),
    then a single partial/final hash aggregate computes every tier
    simultaneously — no cache, no per-tier jobs, ~7x faster than the
    cached cascade for the all-tiers-in-one-action case at sf0.1 (caching
    the struct-heavy finest partial alone cost more than this entire plan;
    see PLANS.md). Input columns are pruned to what the aggregation needs
    BEFORE the Expand — every retained column is duplicated once per tier,
    so an unused wide payload column (the raw text) would 4x expand cost.

    Map-side partial aggregation applies after the Expand, so shuffle
    volume ~= sum of the tiers' partial sizes — the bytes the cascade
    spreads across four Exchanges, in one.

    Use THIS when consuming all tiers in one action (bench, batch export,
    write-partitioned-by-tier) or when tiers bucket in a local ``zone``;
    ``rollup_multi`` wraps it as a per-tier dict (each dict entry is a
    filter BRANCH — materializing all of them separately recomputes the
    pass per tier, so materialize the long frame once instead). Otherwise
    use the tier cascade: ``rollup_cascade`` when tiers are materialized
    independently, ``partial_cascade`` when the partials themselves are
    kept (the continuous aggregate merges them into its state). Mega-key
    skew: Expand preserves the key distribution; pair with AQE or pre-salt
    if one (key, finest-bucket) group is degenerate.
    """
    tiers = tiers or DEFAULT_TIERS
    specs = _parse_aggs(aggs)
    order_cols = order_cols or [ts_col]
    items = sorted(tiers.items(), key=lambda kv: _bucket_width_ms(*kv[1]))

    bnames = [f"__b_{name}" for name, _ in items]
    needed: list[str] = []
    for c in [*keys, *order_cols, *[s.src for s in specs]]:
        if c not in needed and c in df.columns:
            needed.append(c)
    withb = df.select(
        *needed,
        *[
            down_to_nearest(ts_col, i, u, zone=zone).alias(b)
            for b, (_, (i, u)) in zip(bnames, items)
        ],
    )
    gcols = [*keys, *bnames]
    sets = [[*keys, b] for b in bnames]
    agged = withb.groupingSets(sets, *gcols).agg(
        F.grouping_id().alias("__gid"),
        *[e for s in specs for e in s.partial_exprs(order_cols)],
    )

    # grouping_id bit j (from the left of gcols) set <=> column aggregated
    n = len(gcols)
    tier_expr = F.lit(None).cast("string")
    for (tier_name, _), b in zip(items, bnames):
        included = set(keys) | {b}
        gid = sum(1 << (n - 1 - j) for j, c in enumerate(gcols) if c not in included)
        tier_expr = F.when(F.col("__gid") == gid, F.lit(tier_name)).otherwise(
            tier_expr
        )
    return agged.select(
        tier_expr.alias(tier_col),
        *keys,
        # exactly one tier bucket is non-null per output row
        F.coalesce(*bnames).alias(bucket_col),
        *[s.final_expr() for s in specs],
    )


def rollup_multi(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, tuple[str, str]],
    tiers: dict[str, tuple[int, str]] | None = None,
    order_cols: list[str] | None = None,
    bucket_col: str = BUCKET_COL,
    zone: str | None = None,
) -> dict[str, DataFrame]:
    """Per-tier dict view over :func:`rollup_tiers_long`.

    Each entry filters the one-pass long frame by tier. NOTE: the entries
    share LINEAGE, not computation — materializing every tier separately
    re-runs the pass per tier. For all-tiers-in-one-action, materialize
    ``rollup_tiers_long`` once (or cache it) and filter the result.
    """
    tiers = tiers or DEFAULT_TIERS
    long_df = rollup_tiers_long(
        df, keys, ts_col, aggs, tiers, order_cols, bucket_col,
        tier_col="__tier", zone=zone,
    )
    return {
        name: long_df.filter(F.col("__tier") == name).drop("__tier")
        for name in tiers
    }


# ---------------------------------------------------------------------------
# partial-aggregation phases, exposed for incremental maintenance (plans/)
# ---------------------------------------------------------------------------


def partial_rollup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    interval: int,
    unit: str,
    aggs: dict[str, tuple[str, str]],
    order_cols: list[str] | None = None,
    bucket_col: str = BUCKET_COL,
) -> DataFrame:
    """Bucket + partial-aggregate, KEEPING the mergeable representation.

    The continuous-aggregate state tables store this form (sums, counts,
    min/max, first/last order-structs) so later increments merge exactly —
    never the finalized form, where avg/first/last would be unmergeable.
    """
    bucket = down_to_nearest(ts_col, interval, unit).alias(bucket_col)
    return _partial(df, keys, bucket, aggs, order_cols or [ts_col], 0, bucket_col)


def merge_partials(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    bucket_col: str = BUCKET_COL,
    rebucket: tuple[int, str] | None = None,
) -> DataFrame:
    """Merge partial rows that share (keys, bucket); optionally re-bucket
    the partials into a coarser tier first (the cascade step)."""
    specs = _parse_aggs(aggs)
    if rebucket is not None:
        interval, unit = rebucket
        bucket = down_to_nearest(bucket_col, interval, unit).alias(bucket_col)
    else:
        bucket = F.col(bucket_col)
    return df.groupBy(*keys, bucket).agg(
        *[e for s in specs for e in s.merge_exprs()]
    )


def finalize_partials(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    bucket_col: str = BUCKET_COL,
) -> DataFrame:
    """Partial representation -> user-facing columns."""
    specs = _parse_aggs(aggs)
    return df.select(*keys, bucket_col, *[s.final_expr() for s in specs])


def _bucket_width_ms(interval: int, unit: str) -> int:
    from tablecloth_time_spark.functions.units import (
        is_calendar_unit,
        milliseconds_in,
        normalize_unit,
    )

    u = normalize_unit(unit)
    if is_calendar_unit(u):
        approx = {"month": 2_629_800_000, "quarter": 7_889_400_000, "year": 31_557_600_000}
        return interval * approx[u]
    return interval * milliseconds_in(u)
