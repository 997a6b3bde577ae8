"""Engine-level table constraints: ConstraintSuite end to end."""

from pyspark.sql import functions as F

from valideer_spark.constraints import (
    ConstraintSuite,
    NoDrift,
    References,
    StatsBounds,
    Unique,
)
from valideer_spark.sources import synth_docs, synth_media_catalog


def test_constraint_suite_on_docs(spark):
    docs = synth_docs(spark, 2000)
    catalog = synth_media_catalog(spark, 2000)
    offsets = docs.select(F.explode("spans").alias("s")).select(
        F.col("s.offset").alias("offset"),
        F.col("s.media_ref").alias("media_ref"),
    )
    suite = ConstraintSuite(
        [
            Unique("doc_id"),
            References(
                column="media_ref", ref=catalog, ref_column="media_ref",
                explode_from="spans",
            ),
        ]
    )
    report = suite.check(docs)
    # span-level stats bound runs on the exploded frame
    offset_report = ConstraintSuite([StatsBounds("offset", min_value=0)]).check(offsets)
    assert not offset_report.verdicts().collect()[0]["pass"]  # v4 offsets

    verdicts = {r["constraint"]: r for r in report.verdicts().collect()}
    assert not verdicts["unique:doc_id"]["pass"]          # v5 hot-key dupes
    assert not verdicts["references:media_ref"]["pass"]   # v3/v6 orphans

    vio = report.violations().collect()
    kinds = {r["constraint"] for r in vio}
    assert "unique:doc_id" in kinds and "references:media_ref" in kinds
    hot = [r for r in vio if r["constraint"] == "unique:doc_id"]
    assert any("occurrences" in r["detail"] for r in hot)


def test_stats_bounds_violation(spark):
    df = spark.createDataFrame([(1,), (2,), (-5,), (None,)], "x int")
    suite = ConstraintSuite(
        [StatsBounds("x", min_value=0, max_null_rate=0.1, min_distinct=10)]
    )
    report = suite.check(df)
    vio = report.violations().collect()
    details = sorted(r["detail"] for r in vio)
    assert any("min -5.0 below 0" in d for d in details)
    assert any("null rate" in d for d in details)
    assert any("approx distinct" in d for d in details)
    assert not report.verdicts().collect()[0]["pass"]


def test_stats_bounds_pass(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    report = ConstraintSuite([StatsBounds("x", min_value=0, max_value=10)]).check(df)
    assert report.verdicts().collect()[0]["pass"]
    assert report.violations().count() == 0


def test_no_drift(spark):
    a = spark.range(5000).select((F.col("id") % 100).cast("double").alias("v"))
    b = spark.range(5000).select((F.col("id") % 100 + 40).cast("double").alias("v"))
    shifted = ConstraintSuite([NoDrift("v", against=b, max_abs_diff=10.0)]).check(a)
    assert not shifted.verdicts().collect()[0]["pass"]
    same = ConstraintSuite([NoDrift("v", against=a, max_abs_diff=10.0)]).check(a)
    assert same.verdicts().collect()[0]["pass"]


def test_functional_dependency(spark):
    from valideer_spark.constraints import ConstraintSuite, FunctionalDependency

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 11), (2, "b", 20), (2, "c", 21), (3, None, 30)],
        ["k", "dep", "other"],
    )
    suite = ConstraintSuite([FunctionalDependency("k", "dep")])
    report = suite.check(df)
    v = {r["key"]: r["detail"] for r in report.violations().collect()}
    assert v == {"2": "2 distinct dependent values"}
    verdicts = {r["constraint"]: r["pass"] for r in report.verdicts().collect()}
    assert verdicts == {"fd:k->dep": False}


def test_write_quarantine_routes_and_annotates(spark, tmp_path):
    from valideer_spark.engine import ValidationEngine, write_quarantine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 2000)
    report = ValidationEngine(doc_schema()).check(docs)
    vp, qp = str(tmp_path / "valid"), str(tmp_path / "quarantine")
    write_quarantine(report, vp, qp)

    valid = spark.read.parquet(vp)
    quarantine = spark.read.parquet(qp)
    n_valid = report.annotated.filter(F.col("_valid")).count()
    assert valid.count() == n_valid
    # engine columns dropped; bucket partition kept for downstream layout
    assert set(valid.columns) == {"doc_id", "spans", "_part_id"}
    # quarantine rows carry the FULL rejected payload plus the exploded
    # violation columns (one row per document x violation)
    assert set(quarantine.columns) == {
        "doc_id", "spans", "_part_id", "violation_index",
        "violation_path", "violation_constraint", "violation_message",
    }
    bad_ids = {r["doc_id"] for r in
               report.annotated.filter(~F.col("_valid")).select("doc_id").collect()}
    assert {r["doc_id"] for r in quarantine.select("doc_id").distinct().collect()} == bad_ids
    # payload column survives with real content on every quarantine row
    assert quarantine.filter(F.col("spans").isNull()
                             & (F.col("violation_constraint") != "object.required")).count() == 0
    # one row per violation: total quarantine rows == total violation rows
    assert quarantine.count() == report.violation_rows().count()
    # disjoint routing covers the input
    assert valid.count() + len(bad_ids) == 2000
    # fmt is validated, not silently defaulted
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported fmt"):
        write_quarantine(report, vp, qp, fmt="csv")


def test_write_quarantine_rejects_reserved_column_collision(spark, tmp_path):
    """A payload column named violation_*/_part_id must be rejected up
    front — silently emitting duplicate output columns would corrupt the
    quarantine table."""
    import pytest as _pytest

    from valideer_spark import core as V
    from valideer_spark.engine import ValidationEngine, write_quarantine

    df = spark.createDataFrame(
        [("a", "x"), ("b", None)], ["doc_id", "violation_message"]
    )
    schema = V.parse({"+doc_id": "string", "+violation_message": "string"})
    report = ValidationEngine(schema).check(df)
    with _pytest.raises(ValueError, match="violation_message"):
        write_quarantine(report, str(tmp_path / "v"), str(tmp_path / "q"))
