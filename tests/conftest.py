from __future__ import annotations

import pytest

from etl_pipeline_orchestration_spark.operators import graph
from etl_pipeline_orchestration_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    """One shared local session; small parallelism keeps test latency low
    (tiny frames shuffle in 4 partitions, not 32)."""
    spark = get_spark(
        "etl_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.pyspark.fallback.enabled": "true"},
    )
    yield spark


@pytest.fixture(
    params=[graph._STATE_BCAST_MAX, 0], ids=["gate_default", "gate0"]
)
def bcast_gate(request, spark, monkeypatch):
    """Runs a graph test on both sides of the state broadcast gate in
    ``operators/graph.py``: at its default, and at 0, where every loop
    takes the layout it uses above the gate. At 0 Spark's own
    size-based broadcast is off too, so the state joins shuffle as they
    would at that scale."""
    monkeypatch.setattr(graph, "_STATE_BCAST_MAX", request.param)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    if request.param == 0:
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, saved)
