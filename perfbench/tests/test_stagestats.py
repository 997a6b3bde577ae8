"""Both paths of the status-store reader: real stage totals from a live
session, and the wall-only fallback when the private API fails."""

from types import SimpleNamespace

from py4j.protocol import Py4JError

from stagestats import StageTotals, job_group, read_group


def test_group_totals_from_status_store(spark):
    sc = spark.sparkContext
    with job_group(sc, "perfbench-test-group"):
        spark.range(200_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(10).count()  # outside the group: must not be counted
    totals = read_group(sc, "perfbench-test-group")
    assert totals.available
    assert totals.stages >= 1
    assert totals.tasks >= 1
    assert totals.cpu_s > 0 and totals.run_s > 0
    assert totals.shuffle_write_bytes > 0
    assert totals.task_skew >= 1.0
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_unknown_group_reads_empty(spark):
    totals = read_group(spark.sparkContext, "no-such-group")
    assert totals == StageTotals(available=True)


def _raise(exc):
    def f(*args):
        raise exc

    return f


def test_fallback_when_status_store_call_fails():
    broken = SimpleNamespace(
        _jsc=SimpleNamespace(sc=lambda: SimpleNamespace(listenerBus=_raise(Py4JError("gone"))))
    )
    assert read_group(broken, "g") == StageTotals(available=False)


def test_fallback_when_api_is_missing():
    assert read_group(SimpleNamespace(), "g") == StageTotals(available=False)
