"""Autocorrelation function per series — the notebook's "core function we
need" (reference notebooks/chapter_02_time_series_graphics.clj:483-505).

r_k = sum_{t>k} (y_t - ybar)(y_{t-k} - ybar) / sum_t (y_t - ybar)^2

Pure JVM construction (r3 — previously an Arrow kernel): center each
series with a whole-partition window avg, build the k lagged products
with ``lag`` over the same sort, and reduce with ONE partial/final hash
aggregate per series — `sum` ignores the k null head products per lag,
and an all-null product column (k >= n) sums to null, exactly the
"undefined" cases. Plan: one shuffle (series key) + one sorted window
pass + map-side-combined aggregate; max_lag adds columns, not passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def acf(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Returns (*keys string, lag int, acf double) for lags 1..max_lag.

    Null/NaN observations are dropped (the series compacts, matching the
    reference notebook's tc/drop-missing before acf); ``acf`` is null
    where undefined (fewer than k+1 points, or zero variance).
    """
    if max_lag < 1:
        raise ValueError(f"acf: max_lag must be >= 1, got {max_lag}")
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        *keys, F.col(order_col).alias("__o"), v.alias("__v")
    )
    w = Window.partitionBy(*keys).orderBy("__o")
    whole = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    yc = F.col("__v") - F.avg("__v").over(whole)
    b = base.select(*keys, "__o", yc.alias("__yc"))
    prods = b.select(
        *keys,
        (F.col("__yc") * F.col("__yc")).alias("__p0"),
        *[
            (F.col("__yc") * F.lag("__yc", k).over(w)).alias(f"__p{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    agg = prods.groupBy(*keys).agg(
        F.sum("__p0").alias("__denom"),
        *[F.sum(f"__p{k}").alias(f"__n{k}") for k in range(1, max_lag + 1)],
    )
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("lag"),
                    F.col(f"__n{k}").alias("num"),
                )
                for k in range(1, max_lag + 1)
            ]
        )
    ).alias("kv")
    return agg.select(
        *[F.col(k).cast("string").alias(k) for k in keys], "__denom", kv
    ).select(
        *keys,
        F.col("kv.lag").alias("lag"),
        F.when(
            F.col("__denom") > 0, F.col("kv.num") / F.col("__denom")
        ).alias("acf"),
    )


def ccf(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    x_col: str,
    y_col: str,
    max_lag: int,
) -> DataFrame:
    """Cross-correlation function per series pair — fpp3's companion to the
    correlogram for leading-indicator analysis (R's ``ccf(x, y)``).

    r_xy(k) = sum_t (x_{t+k} - xbar)(y_t - ybar)
              / sqrt(sum (x - xbar)^2 * sum (y - ybar)^2)

    for k in -max_lag..max_lag; positive k means x LAGS y by k steps
    (x at t+k pairs with y at t — R's convention, where a peak at
    positive k says y leads x). Input: one row per (keys, order) with
    both aligned observations; rows where EITHER side is null/NaN are
    dropped first (pairwise-complete, compacting the grid like ``acf``).

    Same plan class as ``acf``: one shuffle on the series key, the
    2*max_lag+1 lagged products via ``lag`` over one sorted window pass
    (negative lags reuse the same sort as lags of x instead of leads of
    y), and ONE map-side-combined hash aggregate; null where undefined
    (fewer than |k|+1 pairs, or zero variance on either side).

    Output: (*keys string, lag int, ccf double).
    """
    if max_lag < 0:
        raise ValueError(f"ccf: max_lag must be >= 0, got {max_lag}")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(
        x.isNotNull() & ~F.isnan(x) & y.isNotNull() & ~F.isnan(y)
    ).select(*keys, F.col(order_col).alias("__o"), x.alias("__x"), y.alias("__y"))
    w = Window.partitionBy(*keys).orderBy("__o")
    whole = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = base.select(
        *keys,
        "__o",
        (F.col("__x") - F.avg("__x").over(whole)).alias("__xc"),
        (F.col("__y") - F.avg("__y").over(whole)).alias("__yc"),
    )
    # k >= 0: x_{t+k} pairs y_t  ->  xc(t) * lag(yc, k)(t)
    # k <  0: x_{t+k} pairs y_t  ->  lag(xc, |k|)(t) * yc(t)  (same sort)
    prods = b.select(
        *keys,
        (F.col("__xc") * F.col("__xc")).alias("__dx"),
        (F.col("__yc") * F.col("__yc")).alias("__dy"),
        *[
            (F.lag("__xc", k).over(w) * F.col("__yc")).alias(f"__pm{k}")
            for k in range(1, max_lag + 1)
        ],
        (F.col("__xc") * F.col("__yc")).alias("__p0"),
        *[
            (F.col("__xc") * F.lag("__yc", k).over(w)).alias(f"__pp{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    names = (
        [(-k, f"__pm{k}") for k in range(max_lag, 0, -1)]
        + [(0, "__p0")]
        + [(k, f"__pp{k}") for k in range(1, max_lag + 1)]
    )
    agg = prods.groupBy(*keys).agg(
        F.sum("__dx").alias("__sdx"),
        F.sum("__dy").alias("__sdy"),
        *[F.sum(c).alias(c) for _, c in names],
    )
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("lag"),
                    F.col(c).alias("num"),
                )
                for k, c in names
            ]
        )
    ).alias("kv")
    denom = F.sqrt(F.col("__sdx") * F.col("__sdy"))
    return agg.select(
        *[F.col(k).cast("string").alias(k) for k in keys], "__sdx", "__sdy", kv
    ).select(
        *keys,
        F.col("kv.lag").alias("lag"),
        F.when(
            (F.col("__sdx") > 0) & (F.col("__sdy") > 0),
            F.col("kv.num") / denom,
        ).alias("ccf"),
    )


def pacf(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Partial autocorrelation per series (the correlogram's companion in
    fpp3 §9.5, used to pick AR orders): Durbin-Levinson recursion over the
    ACF sequence.

    The heavy work is ``acf`` (one shuffle + one sorted pass + one
    aggregate over the raw series); the recursion itself runs in the
    batched Arrow kernel over the TINY acf frame — max_lag rows per
    series, so the Python cost is O(series x max_lag^2) scalars, never
    touching raw data. Lags whose ACF is undefined (k >= n, zero
    variance) and everything after them yield null.

    Output: (*keys string, lag int, pacf double) — key columns come back
    as strings (inherited from ``acf``'s key normalization); cast before
    joining to an int-keyed frame.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from tablecloth_time_spark.operators._grouped import grouped_apply_stream

    acf_df = acf(df, keys, order_col, value_col, max_lag)
    key_fields = [f for f in acf_df.schema.fields if f.name in keys]
    schema = StructType(
        key_fields
        + [StructField("lag", IntegerType()), StructField("pacf", DoubleType())]
    )

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values("lag")
        r = g["acf"].to_numpy(dtype=np.float64)  # r[0] == acf at lag 1
        m = len(r)
        out = np.full(m, np.nan)
        # valid prefix: stop at the first undefined acf
        valid = m
        for i in range(m):
            if not np.isfinite(r[i]):
                valid = i
                break
        if valid >= 1:
            phi = np.zeros((valid + 1, valid + 1))
            phi[1, 1] = r[0]
            out[0] = r[0]
            for k in range(2, valid + 1):
                num = r[k - 1] - sum(
                    phi[k - 1, j] * r[k - 1 - j] for j in range(1, k)
                )
                den = 1.0 - sum(
                    phi[k - 1, j] * r[j - 1] for j in range(1, k)
                )
                if den == 0:
                    break
                phi[k, k] = num / den
                for j in range(1, k):
                    phi[k, j] = phi[k - 1, j] - phi[k, k] * phi[k - 1, k - j]
                out[k - 1] = phi[k, k]
        res = g[[*keys, "lag"]].copy()
        res["pacf"] = np.where(np.isfinite(out), out, np.nan)  # NaN -> null
        return res

    return grouped_apply_stream(acf_df, keys, ["lag"], kernel, schema)


def dominant_period(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    max_lag: int,
    min_lag: int = 2,
) -> DataFrame:
    """Per-key seasonality detection: the lag in [``min_lag``,
    ``max_lag``] with the maximum sample autocorrelation (ties broken
    toward the SMALLEST lag), the peak value, and whether the peak
    clears the classic white-noise 95% band 1.96/sqrt(n) (Bartlett's
    large-lag approximation — the same band fpp3's ACF plots draw). The
    standard first-pass period detector for bucketed tier series:
    period 24 on hourly buckets = daily seasonality, 7 on daily =
    weekly.

    ``min_lag`` defaults to 2 because lag-1 autocorrelation reflects
    smoothness, not periodicity (a trending series maximizes ACF at
    lag 1; difference the series first for trend-dominated data).

    Plan: the :func:`acf` aggregate (one window Exchange + one per-key
    hash aggregate over max_lag lagged-product sums) -> a row_number
    pick over the tiny (key, max_lag) correlogram frame -> an equi-join
    with the per-key observation count. Raw rows shuffle once, in the
    ACF stage; everything downstream is correlogram-sized.

    Output: (*keys as string — the :func:`acf` convention, ``period``
    int, ``peak_acf`` double, ``n`` long, ``significant`` int 0/1).
    Keys whose ACF is undefined at every candidate lag (shorter than
    min_lag+1 points, or zero variance) are dropped.
    """
    if not 1 <= min_lag <= max_lag:
        raise ValueError(
            f"dominant_period: need 1 <= min_lag <= max_lag, "
            f"got {min_lag}..{max_lag}"
        )
    a = acf(df, keys, order_col, value_col, max_lag)
    cand = a.filter(
        (F.col("lag") >= F.lit(min_lag)) & F.col("acf").isNotNull()
        & ~F.isnan("acf")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("acf").desc(), F.col("lag").asc()
    )
    top = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *keys,
            F.col("lag").alias("period"),
            F.col("acf").alias("peak_acf"),
        )
    )
    v = F.col(value_col).cast("double")
    counts = (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy(*[F.col(k).cast("string").alias(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return top.join(counts, on=list(keys)).select(
        *keys, "period", "peak_acf", "n",
        (
            F.col("peak_acf") > F.lit(1.96) / F.sqrt(F.col("n").cast("double"))
        ).cast("int").alias("significant"),
    )
