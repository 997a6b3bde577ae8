"""Round-6 optimization harness: isolate each bench query, capture
.explain("formatted"), and time with the noop sink (guide §1.4) so the
computation is measured, not the sink. Does NOT replace bench.py (frozen
for driver measurement); numbers here are cited in OPTIMIZATION_r06.md.

Usage:
  python tools/bench_extra.py plans   [out_suffix]   # write plans/r06/<q>_<suffix>.txt
  python tools/bench_extra.py time    [repeat]       # per-query noop/count timings
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(os.environ.get("SPARK_GRAFT_SF", SF_DIR.rstrip("/").split("sf")[-1] or "1.0"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_N_DOCS", str(max(20_000, int(2_000_000 * SF)))))
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def build_session():
    from pyspark.sql import SparkSession

    from valideer_spark.conf import recommended_conf

    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .appName("valideer-spark-bench-extra")
    )
    for k, v in recommended_conf(target_partitions=max(CPUS, 32)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench_frames(spark):
    """The nine bench.py queries as (name, DataFrame-or-callable) pairs,
    mirroring bench.py's exact construction."""
    from pyspark.sql import functions as F

    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.operators import (
        column_profile,
        duplicate_keys,
        orphan_keys,
        quantile_drift,
    )
    from valideer_spark.sources import synth_docs, synth_media_catalog
    from valideer_spark.sources.tables import load_table

    docs = synth_docs(spark, N_DOCS)
    docs.persist()
    docs.count()
    engine = ValidationEngine(doc_schema())
    report = engine.check(docs)
    plan = engine.plan_for(docs)

    catalog = synth_media_catalog(spark, N_DOCS)
    catalog.persist()
    catalog.count()
    refs = docs.select(F.explode("spans").alias("s")).select(
        F.col("s.media_ref").alias("media_ref")
    )
    li = load_table(spark, "lineitem", SF_DIR)
    part = load_table(spark, "part", SF_DIR)
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)

    frames = {
        "flagship_verdicts": report.verdicts().agg(
            F.sum("n_docs"), F.sum("n_valid")
        ),
        "flagship_violations": report.violation_rows(),
        "flagship_fastpath": docs.select(
            F.sum(plan.is_valid_col(docs).cast("long"))
        ),
        "uniqueness_salted": duplicate_keys(docs, "doc_id"),
        "referential_media": orphan_keys(refs, "media_ref", catalog, "media_ref"),
        "stats_lineitem": column_profile(
            li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey"]
        ),
        "referential_lineitem_part": orphan_keys(
            li, "l_partkey", part.filter(F.col("p_partkey") % 7 != 0), "p_partkey"
        ),
        "drift_percentiles": quantile_drift(a, b, "l_extendedprice"),
    }
    return frames


def cmd_plans(suffix: str) -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    exec_first = os.environ.get("EXEC_FIRST", "0") == "1"
    spark = build_session()
    for name, df in bench_frames(spark).items():
        if exec_first:
            # run the query THROUGH ITS OWN queryExecution (collect, not a
            # write — a write builds a fresh execution) so the AQE final
            # plan (isFinalPlan=true, real join strategies) is captured
            spark.sparkContext.setJobDescription(f"plan capture: {name}")
            df._jdf.queryExecution().executedPlan().executeCollect()
            spark.sparkContext.setJobDescription(None)
        path = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted(df))
        print("wrote", path)
    spark.stop()


def cmd_time(repeat: int) -> None:
    spark = build_session()
    frames = bench_frames(spark)
    out = {}
    for name, df in frames.items():
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        # warm once (codegen/JIT), then best-of-repeat
        df.write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(repeat):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf": SF, "noop_best": out, "total": round(sum(out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        cmd_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    else:
        cmd_time(int(sys.argv[2]) if len(sys.argv) > 2 else 2)
