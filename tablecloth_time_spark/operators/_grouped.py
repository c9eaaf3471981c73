"""Batched per-group pandas execution: mapInPandas over co-sorted groups.

``DataFrame.groupBy(...).applyInPandas(fn)`` pays a full Spark round-trip
per GROUP — ruinous when groups are small and plentiful (millions of
per-conversation series). This utility gets the same per-group semantics
at per-BATCH cost: one shuffle co-locates each group, an in-partition sort
makes groups contiguous (and rows ordered), and a mapInPandas stream
applies ``fn`` to each complete group inside whole Arrow batches. A group
that spans an Arrow batch boundary is held back (``pending``) until its
remaining rows arrive — correctness does not depend on batch size.

Both users run that loop, :func:`stream_group_runs`: gapfill's kernels per
group (grouped_apply_stream), operators/compress.py's encoder per slab.

The shuffle has no partition count: ``repartition(*keys)`` lets AQE
coalesce adjacent partitions, so a small input runs as one or a few
Python tasks. Each Python task has a fixed cost before the user function
runs. With pyspark 4.1 on a 4 vCPU host, an identity mapInPandas over
64,000 rows took 18.2 s as 64 tasks and 0.45 s as one task at
``local[1]``: ~0.28 s per task. Of that, ~0.22 s of worker CPU is
pyspark's ``worker_util.setup_spark_files`` calling
``importlib.invalidate_caches()``, which re-reads the central directory
of every zip on the worker ``sys.path`` (timed by wrapping the worker
through ``spark.python.daemon.module``). Fewer tasks cross that boundary
fewer times. Coalescing merges only adjacent partitions, so each group
stays whole in one task.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def stream_group_runs(
    batches: Iterator[pd.DataFrame], group_cols: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame | None],
) -> Iterator[pd.DataFrame]:
    """Yield ``fn(run)`` (unless None) per run of COMPLETE groups, rows
    arriving contiguous by ``group_cols``; each batch's last group waits
    for the next batch (null-safe tail comparison)."""
    pending: pd.DataFrame | None = None
    for pdf in batches:
        if pending is not None and len(pending):
            pdf = pd.concat([pending, pdf], ignore_index=True)
            pending = None
        if not len(pdf):
            continue
        tail = np.ones(len(pdf), dtype=bool)
        for c in group_cols:
            last = pdf[c].iloc[-1]
            if pd.isna(last):  # NaN != NaN — null-safe tail comparison
                tail &= pdf[c].isna().to_numpy()
            else:
                tail &= (pdf[c] == last).to_numpy()
        not_tail = np.flatnonzero(~tail)
        cut = int(not_tail[-1]) + 1 if len(not_tail) else 0
        pending = pdf.iloc[cut:]
        if cut:
            out = fn(pdf.iloc[:cut])
            if out is not None:
                yield out
    if pending is not None and len(pending):
        out = fn(pending)
        if out is not None:
            yield out


def grouped_apply_stream(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
) -> DataFrame:
    """Apply ``fn`` once per (group_cols) group; rows arrive sorted by
    ``sort_cols`` within each group. ``schema`` is the output schema."""
    part = df.repartition(*group_cols).sortWithinPartitions(
        *group_cols, *sort_cols
    )

    def apply_groups(pdf: pd.DataFrame) -> pd.DataFrame | None:
        # dropna=False: a null group key is a real group (Spark groupBy /
        # window semantics); the default would silently drop its rows
        outs = [
            fn(g)
            for _, g in pdf.groupby(list(group_cols), sort=False, dropna=False)
        ]
        outs = [o for o in outs if o is not None and len(o)]
        return pd.concat(outs, ignore_index=True) if outs else None

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return stream_group_runs(batches, group_cols, apply_groups)

    return part.mapInPandas(stream, schema)
