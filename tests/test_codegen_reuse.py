"""A repeated build reuses the classes its first run compiled.

The engine session sizes Spark's codegen cache for a whole build and keys
generated classes by their code, not by the query's stage number
(``session._DEFAULT_CONF``). This pins that with a count, not a time: the
Janino compile count from ``CodegenMetrics``, read around two runs of the
same composed program.

The module name sorts before every other test that runs the curation
program, so in a full run the first build here is that program's first in
the session and compiles its whole class set."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _compiled_classes(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_curation_build_reuses_compiled_classes(spark):
    import __spark_entry__ as entrymod

    compiled = []
    for _ in range(2):
        before = _compiled_classes(spark)
        df = entrymod.queries()["spec_curation_pipeline"](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        compiled.append(_compiled_classes(spark) - before)
    first, second = compiled
    assert second <= 0.1 * first, (
        f"the second build compiled {second} classes against {first} in the "
        "first: the codegen cache no longer holds a whole build"
    )
