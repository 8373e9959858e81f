"""parallel.declare_parallel contract: builder-list order and exception
propagation (the helper is shared by dimensions/facts/resolution,
extraction and the warehouse writes, so its semantics are pinned once
here)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel


def test_order_is_builder_list_not_completion():
    import time

    builders = [
        ("slow", lambda: (time.sleep(0.2), "a")[1]),
        ("fast", lambda: "b"),
    ]
    out = declare_parallel(builders)
    assert list(out) == ["slow", "fast"]
    assert out == {"slow": "a", "fast": "b"}


def test_builder_exception_propagates():
    def boom():
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError, match="builder failed"):
        declare_parallel([("ok", lambda: 1), ("bad", boom)])
