"""Round-3 experiment: what does the verdict job's bucket key + 256-key
aggregation actually cost, and can a cheaper bucketing recover it?

Variants measured on the SAME 10M-doc parquet input, local[32], fresh
lineage per iteration, best-of-K:

  global   — no _part_id at all: predicate + single global agg (the floor)
  xxhash   — production default: pmod(xxhash64(doc_id), 256)
  murmur   — pmod(F.hash(doc_id), 256) (32-bit Murmur3 JVM intrinsic)
  stored   — input pre-bucketed by write_partitioned: reuse the physical
             _part_id column (zero hash work at read time)

Usage: python tools/agg_floor_experiment.py [N_DOCS] [ITERS]
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
ITERS = int(sys.argv[2]) if len(sys.argv) > 2 else 3

BASE = tempfile.mkdtemp(prefix="aggfloor_")
PLAIN = os.path.join(BASE, "docs")
BUCKETED = os.path.join(BASE, "docs_bucketed")

PREP = rf"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[32]")
         .config("spark.driver.memory", "24g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from valideer_spark.sources import synth_docs
from valideer_spark.engine import write_partitioned
docs = synth_docs(spark, {N_DOCS})
docs.repartition(64).write.mode("overwrite").parquet("{PLAIN}")
write_partitioned(spark.read.parquet("{PLAIN}"), "{BUCKETED}", buckets=256)
spark.stop()
"""

RUN = rf"""
import sys, time, json
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession, functions as F
from valideer_spark.conf import recommended_conf
builder = (SparkSession.builder.master("local[32]")
           .config("spark.sql.shuffle.partitions", "32")
           .config("spark.driver.memory", "24g")
           .config("spark.ui.enabled", "false"))
for k, v in recommended_conf().items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from valideer_spark.engine import ValidationEngine, deterministic_partition_id
from valideer_spark.flagship import doc_schema

engine = ValidationEngine(doc_schema())
plan = engine.plan_for(spark.read.parquet("{PLAIN}"))

def verdict_df(variant):
    if variant == "stored":
        df = spark.read.parquet("{BUCKETED}")
    else:
        df = spark.read.parquet("{PLAIN}")
    ann = plan.check(df, adapt=False)
    if variant == "global":
        return ann.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_valid").cast("long")).alias("n_valid"),
            F.sum("_n_violations").alias("n_violations"))
    if variant == "xxhash":
        ann = ann.withColumn("_part_id",
            deterministic_partition_id(F.col("doc_id"), 256))
    elif variant == "murmur":
        ann = ann.withColumn("_part_id",
            F.pmod(F.hash(F.col("doc_id")), F.lit(256)).cast("int"))
    # stored: _part_id is a physical column already
    return (ann.groupBy("_part_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("_valid").cast("long")).alias("n_valid"),
                 F.sum("_n_violations").alias("n_violations")))

results = {{}}
for variant in ["global", "xxhash", "murmur", "stored"]:
    verdict_df(variant).collect()  # warm codegen/JIT per shape
    best = None
    for _ in range({ITERS}):
        t0 = time.time()
        rows = verdict_df(variant).collect()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    total = sum(r["n_docs"] for r in rows)
    results[variant] = {{"best_s": round(best, 2),
                         "docs_per_s": int(total / best)}}
    print(variant, results[variant], flush=True)
print("RESULT", json.dumps(results))
spark.stop()
"""

subprocess.run([sys.executable, "-c", PREP], check=True)
subprocess.run([sys.executable, "-c", RUN], check=True)
print("dirs kept under", BASE)
