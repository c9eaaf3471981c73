"""The streaming package surface and the streaming-test timeout guard."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import pytest

import tablecloth_time_spark.streaming as streaming
from tests.conftest import await_done


def test_streaming_all_lists_every_public_twin():
    defined = set()
    for info in pkgutil.iter_modules(streaming.__path__):
        mod = importlib.import_module(f"{streaming.__name__}.{info.name}")
        defined |= {
            name
            for name, fn in inspect.getmembers(mod, inspect.isfunction)
            if name.startswith("streaming_") and fn.__module__ == mod.__name__
        }
    assert sorted(streaming.__all__) == sorted(defined)
    for name in streaming.__all__:
        assert callable(getattr(streaming, name))


def test_await_done_stops_and_fails_on_timeout(spark, tmp_path):
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(
            pytest.fail.Exception,
            match="streaming query did not finish in 2 s",
        ):
            await_done(q, timeout=2)
        assert not q.isActive
    finally:
        q.stop()
