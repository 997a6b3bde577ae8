"""The old-generation heap peak behind ``heap_peak_mb``."""

from session import HeapPeak


def test_heap_peak_covers_live_data(spark):
    heap = HeapPeak(spark)
    heap.start()
    before = heap.peak_mb()
    rows = spark.range(300_000).selectExpr("id", "repeat('x', 64) AS pad").collect()
    assert len(rows) == 300_000
    assert 0 < before <= heap.peak_mb()
