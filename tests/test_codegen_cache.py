"""Generated code stays compiled across ops: Spark's codegen cache,
sized by ``session.get_spark``, holds the whole working set of the
``olap_interactive`` mix, so running the mix a second time compiles
nothing.  With Spark's default of 100 entries the second round
recompiles the classes the first round's later keys evicted."""

from __future__ import annotations

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_DIR


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM: one per cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_olap_working_set_stays_compiled(spark):
    _ensure_loaded()
    keys = WORKLOADS["olap_interactive"].keys
    assert len(keys) == 11
    deltas = []
    for _ in range(2):
        before = _compiles(spark)
        for key in keys:
            REGISTRY[key].fn(spark, SF_DIR).toPandas()
        deltas.append(_compiles(spark) - before)
    # the counter is live (a count stuck at 0 would pass vacuously);
    # the first round may compile nothing when earlier tests in the
    # session already compiled the mix
    assert _compiles(spark) > 0, deltas
    assert deltas[1] == 0, deltas
