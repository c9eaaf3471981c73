"""Expected results from DuckDB over the same input files.

Every check compares full rows with ``EXCEPT ALL`` in both directions, so a
wrong count, sum, min/max turn or first/last role in any single row shows
up as a mismatch. Floating-point results (linear interpolation) are rounded
to ``FLOAT_DIGITS`` on both sides first.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd

TIER_UNITS = ("second", "minute", "hour", "day")
TIER_COLS = [
    "conv_id", "bucket", "n_turns", "sum_chars",
    "min_turn", "max_turn", "first_role", "last_role",
]
FLOAT_DIGITS = 6


def _lit(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


def _parquet(path_glob: str | list[str]) -> str:
    if isinstance(path_glob, list):
        files = ", ".join(f"'{p}'" for p in path_glob)
        return f"read_parquet([{files}])"
    return f"read_parquet('{path_glob}')"


def rollup_sql(source: str, unit: str) -> str:
    """One tier of the pipeline's DEFAULT_AGGS, computed from raw turns."""
    return f"""
        SELECT conv_id,
               date_trunc('{unit}', ts)::TIMESTAMP AS bucket,
               count(*)::BIGINT AS n_turns,
               sum(length(text))::BIGINT AS sum_chars,
               min(turn_idx)::INTEGER AS min_turn,
               max(turn_idx)::INTEGER AS max_turn,
               first(role ORDER BY ts, turn_idx) AS first_role,
               first(role ORDER BY ts DESC, turn_idx DESC) AS last_role
        FROM ({source}) GROUP BY 1, 2"""


class Oracle:
    def __init__(self, threads: int):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"SET threads = {max(1, threads)}")

    def close(self) -> None:
        self.con.close()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def diff(self, expected: str, actual: str, cols: list[str]) -> tuple[int, int]:
        """(rows expected but missing, rows present but unexpected)."""
        c = ", ".join(cols)
        missing = self.scalar(
            f"SELECT count(*) FROM (SELECT {c} FROM ({expected}) "
            f"EXCEPT ALL SELECT {c} FROM ({actual}))"
        )
        extra = self.scalar(
            f"SELECT count(*) FROM (SELECT {c} FROM ({actual}) "
            f"EXCEPT ALL SELECT {c} FROM ({expected}))"
        )
        return int(missing), int(extra)

    def frame(self, name: str, pdf: pd.DataFrame) -> str:
        """Register a collected Spark result as a DuckDB view; returns SQL."""
        self.con.register(name, pdf)
        return f"SELECT * FROM {name}"

    # -- raw inputs -----------------------------------------------------------

    def load_turns(self, name: str, files: str | list[str]) -> None:
        """Materialise raw turns into a DuckDB table (expected results are
        derived from it, never from the program's output)."""
        self.con.execute(
            f"CREATE OR REPLACE TABLE {name} AS "
            f"SELECT conv_id, turn_idx, role, text, ts::TIMESTAMP AS ts "
            f"FROM {_parquet(files)}"
        )

    def append_turns(self, name: str, files: str | list[str]) -> None:
        self.con.execute(
            f"INSERT INTO {name} SELECT conv_id, turn_idx, role, text, "
            f"ts::TIMESTAMP FROM {_parquet(files)}"
        )

    def materialize_tiers(self, turns: str, prefix: str) -> None:
        for unit in TIER_UNITS:
            self.con.execute(
                f"CREATE OR REPLACE TABLE {prefix}_{unit} AS "
                + rollup_sql(f"SELECT * FROM {turns}", unit)
            )

    # -- expected results of the query mix ------------------------------------

    @staticmethod
    def slice_sql(tier: str, lo: dt.datetime, hi: dt.datetime) -> str:
        return (
            f"SELECT * FROM {tier} WHERE bucket >= {_lit(lo)} "
            f"AND bucket <= {_lit(hi)}"
        )

    @staticmethod
    def resample_linear_sql(hour_slice: str) -> str:
        """resample_to_regular_grid(..., 'n_turns', 1, 'hour', 'linear')."""
        return f"""
        WITH obs AS (SELECT conv_id, bucket, avg(n_turns) AS v
                     FROM ({hour_slice}) GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(bucket) AS lo, max(bucket) AS hi
                  FROM obs GROUP BY 1),
        grid AS (SELECT conv_id, unnest(generate_series(lo, hi,
                 INTERVAL 1 HOUR)) AS bucket FROM spans),
        j AS (SELECT g.conv_id, g.bucket, o.v, epoch_ms(g.bucket) AS t
              FROM grid g LEFT JOIN obs o USING (conv_id, bucket)),
        w AS (SELECT *,
              last_value(v IGNORE NULLS) OVER wp AS pv,
              last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                  OVER wp AS pt,
              first_value(v IGNORE NULLS) OVER wn AS nv,
              first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                  OVER wn AS nt
              FROM j
              WINDOW wp AS (PARTITION BY conv_id ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wn AS (PARTITION BY conv_id ORDER BY bucket
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT conv_id, bucket,
               round(CASE WHEN v IS NOT NULL THEN v
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + (nv - pv) * ((t - pt)::DOUBLE / (nt - pt))
                     END, {FLOAT_DIGITS}) AS n_turns
        FROM w"""

    @staticmethod
    def hopping_sql(minute_slice: str, width_min: int, hop_min: int) -> str:
        """hopping_rollup over minute rows: every window of ``width_min``
        starting at a multiple of ``hop_min`` that contains the row."""
        k = -(-width_min // hop_min)
        return f"""
        WITH w AS (
          SELECT m.*, time_bucket(INTERVAL {hop_min} MINUTE, bucket)
                      - r.k * INTERVAL {hop_min} MINUTE AS window_start
          FROM ({minute_slice}) m, range(0, {k}) r(k))
        SELECT conv_id, window_start,
               window_start + INTERVAL {width_min} MINUTE AS window_end,
               sum(n_turns)::BIGINT AS n_turns,
               sum(sum_chars)::BIGINT AS sum_chars,
               min(min_turn)::INTEGER AS min_turn,
               max(max_turn)::INTEGER AS max_turn,
               first(first_role ORDER BY bucket) AS first_role,
               first(last_role ORDER BY bucket DESC) AS last_role
        FROM w WHERE window_start + INTERVAL {width_min} MINUTE > bucket
        GROUP BY 1, 2, 3"""

    @staticmethod
    def blocks_slice_sql(minute_slice: str) -> str:
        return (
            f"SELECT conv_id, bucket AS ts, n_turns, sum_chars "
            f"FROM ({minute_slice})"
        )
