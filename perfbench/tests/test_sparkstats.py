"""The status-store reader sees a mapInPandas noop write's own numbers."""

import pytest

from perfbench.sparkstats import SparkStats, parse_metric


def _identity(batches):
    yield from batches


def test_parse_metric_formats():
    assert parse_metric("1,000") == 1000
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n5.4 s (1.3 s, 1.4 s, 1.4 s (stage 0.0: task 2))"
    ) == pytest.approx(5.4)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n15.5 KiB (3.8 KiB, 3.9 KiB, 3.9 KiB (stage 0.0: task 3))"
    ) == pytest.approx(15.5 * 1024)
    assert parse_metric("total (min, med, max)\n381 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.381)
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 57.0: task 164))") is None


def test_noop_mapinpandas_write_reports_python_time_and_rows(spark):
    stats = SparkStats(spark)
    n = 3000
    df = (
        spark.range(n, numPartitions=2)
        .selectExpr("id", "repeat('x', 200) AS s")
        .mapInPandas(_identity, "id long, s string")
    )
    with stats.window() as w:
        df.write.format("noop").mode("overwrite").save()
    r = w.result
    assert r.n_execs >= 1
    assert r.node("MapInPandas", "number of output rows") == n
    assert r.node("MapInPandas", "time to run Python workers") > 0
    assert r.node("MapInPandas", "data sent to Python workers") > n * 200
    assert r.sum("run_s") > 0
