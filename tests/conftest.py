from __future__ import annotations

import pandas as pd
import pytest

from tablecloth_time_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="tts-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from tablecloth_time_spark.sources.transcripts import generate_transcripts_pandas

    return generate_transcripts_pandas(n_conv=120, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from tablecloth_time_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
    df.cache().count()
    return df


def assert_frames_equal(spark_df, pandas_df, sort_cols, check_dtype=False):
    """Canonical-sort both sides and compare exactly."""
    left = (
        spark_df.toPandas()
        .sort_values(sort_cols, kind="stable")
        .reset_index(drop=True)
    )
    right = (
        pandas_df.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    )
    left = left[sorted(left.columns)]
    right = right[sorted(right.columns)]
    pd.testing.assert_frame_equal(left, right, check_dtype=check_dtype)


def await_done(q, timeout=300):
    """Wait for streaming query ``q`` to finish. If it is still running
    after ``timeout`` seconds, stop it and fail with a timeout message,
    so a stuck query is reported as such rather than as a data diff."""
    if not q.awaitTermination(timeout):
        q.stop()
        pytest.fail(f"streaming query did not finish in {timeout} s")
