"""The benchmark's workloads.

Each workload loads the generated inputs (``load``), builds what its loop
calls (``prepare``), runs one closed-loop iteration of public
``valideer_spark`` calls (``iteration``), checks that iteration's outputs
against the generator's expected counts (``check``, outside the timed
calls), and in the traced run times, one by one, the layers its loop does
not call (``probe_layers``).

Input sizes live in ``gen.INPUTS`` and are the same for every seed.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen

# Storage buckets of the write-path probe, instead of the engine's default
# of 256. Measured at 200k docs on 4 cores, one pass took 38 s at 16
# buckets and 58 s at 256 when it was the session's first write, 16 s and
# 36 s when repeated; at 256 a traced run would come too close to the time
# one benchmark run may take.
LAND_BUCKETS = 16


def _noop_count(df, name: str) -> Observation:
    """Write ``df`` to the noop sink; the returned observation holds the
    row count once the write has finished (no second Spark action)."""
    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs


def _expect(failures: list, what: str, got, want) -> None:
    if got != want:
        failures.append(f"{what}: got {got!r}, expected {want!r}")


def _parquet_files(path: str) -> tuple[int, int]:
    """(number, total bytes) of the parquet files under ``path``."""
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    name = ""
    # the first iteration after one warm-up was still the slowest of the run
    warmup_iterations = 2

    def __init__(self, bench, data_dir: str, expected: dict):
        self.bench = bench
        self.spark = bench.spark
        self.data_dir = data_dir
        self.expected = expected

    def _load(self, table: str, cache: bool):
        """``sources.load_table``; cached tables are materialised here."""
        from valideer_spark.sources import load_table

        df = load_table(self.spark, table, self.data_dir)
        if cache:
            df = df.persist()
            df.count()
        return df

    def setup(self) -> None:
        """Load the inputs (timed as ``sources.load_table``), then build
        what the loop calls."""
        with self.bench.tracer.span("sources.load_table") as span:
            self.load()
        self.bench.record("sources.load_table_s", span.duration)
        self.prepare()


class DocsCheck(Workload):
    """In-memory docs: verdicts, violation rows and adapted rows."""

    name = "docs_check"

    def load(self) -> None:
        self.docs = self._load("documents", cache=True)

    def prepare(self) -> None:
        from valideer_spark.engine import ValidationEngine
        from valideer_spark.flagship import doc_schema

        self.engine = ValidationEngine(doc_schema())
        self.report = self.engine.check(self.docs)
        self.adapt_report = self.engine.check(self.docs, adapt=True)
        self.rows_per_iteration = self.expected["n_docs"]

    def iteration(self) -> dict:
        b = self.bench
        return {
            "verdicts": b.call("engine.verdicts", lambda: self.report.verdicts().collect()),
            "violations": b.call(
                "engine.violation_rows",
                lambda: _noop_count(self.report.violation_rows(), "violations"),
            ),
            "adapted": b.call(
                "engine.adapted", lambda: _noop_count(self.adapt_report.adapted(), "adapted")
            ),
        }

    def check(self, out: dict) -> list:
        e, failures = self.expected, []
        rows = out["verdicts"]
        _expect(failures, "verdict n_docs", sum(r["n_docs"] for r in rows), e["n_docs"])
        _expect(failures, "verdict n_valid", sum(r["n_valid"] for r in rows), e["n_valid"])
        _expect(
            failures, "verdict n_violations",
            sum(r["n_violations"] for r in rows), e["n_violation_rows"],
        )
        _expect(failures, "violation rows", out["violations"].get["n"], e["n_violation_rows"])
        _expect(failures, "adapted rows", out["adapted"].get["n"], e["n_valid"])
        return failures

    def probe_layers(self) -> None:
        self._probe_plans()
        self._probe_land()

    def _probe_plans(self) -> None:
        """Parse, compile and Catalyst planning on their own, then the
        predicate alone as a Spark job."""
        from valideer_spark.flagship import doc_schema
        from valideer_spark.plans import compile_plan

        b, docs = self.bench, self.docs
        for _ in range(21):
            b.call("core.parse", doc_schema)
        for _ in range(5):
            b.call("plans.compile", lambda: compile_plan(doc_schema(), docs))
        for _ in range(5):
            b.call(
                "plans.optimize",
                lambda: self.engine.check(docs).verdicts()._jdf.queryExecution().executedPlan(),
            )
        plan = self.engine.plan_for(docs)
        for _ in range(3):
            got = b.call(
                "plans.predicate",
                lambda: docs.select(F.sum(plan.is_valid_col(docs).cast("long"))).collect()[0][0],
            )
            failures = []
            _expect(failures, "predicate valid count", got, self.expected["n_valid"])
            b.verify(failures)

    def _probe_land(self) -> None:
        """One pass of the file-backed write path: bucketed layout, a
        checkpointed run, a resume with every bucket done, and the
        valid/quarantine sinks, each checked."""
        from valideer_spark.engine import (
            ValidationEngine,
            write_partitioned,
            write_quarantine,
        )
        from valideer_spark.flagship import doc_schema

        b, e = self.bench, self.expected
        land = os.path.join(self.data_dir, "land")
        layout_path, valid_path, quarantine_path = (
            os.path.join(land, d) for d in ("layout", "valid", "quarantine")
        )
        b.call(
            "engine.write_partitioned",
            lambda: write_partitioned(self.docs, layout_path, buckets=LAND_BUCKETS),
        )
        layout = self.spark.read.parquet(layout_path)
        engine = ValidationEngine(
            doc_schema(), buckets=LAND_BUCKETS, checkpoint_dir=os.path.join(land, "checkpoint")
        )
        first = b.call(
            "engine.run_with_checkpoint", lambda: engine.run_with_checkpoint(layout).collect()
        )
        resume = b.call("engine.resume", lambda: engine.run_with_checkpoint(layout).collect())
        b.call(
            "engine.write_quarantine",
            lambda: write_quarantine(engine.check(layout), valid_path, quarantine_path),
        )

        failures = []
        _expect(failures, "first run buckets", len(first), LAND_BUCKETS)
        _expect(failures, "first run docs", sum(r["n_docs"] for r in first), e["n_docs"])
        _expect(failures, "first run valid", sum(r["n_valid"] for r in first), e["n_valid"])
        _expect(failures, "resume pending buckets", len(resume), 0)
        valid = self.spark.read.parquet(valid_path).count()
        quarantined = (
            self.spark.read.parquet(quarantine_path)
            .filter(F.col("violation_index") == 0)
            .count()
        )
        _expect(failures, "valid sink rows", valid, e["n_valid"])
        _expect(failures, "valid + quarantined docs", valid + quarantined, e["n_docs"])
        b.verify(failures)
        files, size = _parquet_files(quarantine_path)
        b.record("engine.write_quarantine.files", files)
        b.record("engine.write_quarantine.bytes_per_doc", size / max(quarantined, 1))
        b.record("engine.resume.skipped_ratio", (len(first) - len(resume)) / max(len(first), 1))


class TableConstraints(Workload):
    """Constraint suites over file-backed TPC-H and in-memory docs."""

    name = "table_constraints"
    # the first iteration takes 10-12 s and the next two 5-6 s on 4 cores;
    # later ones 3-5 s. Every iteration still compiles 20-26 new classes
    # (Spark codegen cache misses), so it never quite settles
    warmup_iterations = 3

    def load(self) -> None:
        self.lineitem = self._load("lineitem", cache=False)
        self.part = self._load("part", cache=False)
        self.supplier = self._load("supplier", cache=False)
        self.prev = self._load("lineitem_prev", cache=False)
        self.docs = self._load("documents", cache=True)
        self.catalog = self._load("media_catalog", cache=False)

    def prepare(self) -> None:
        from valideer_spark.constraints import (
            ConstraintSuite,
            FunctionalDependency,
            NoDrift,
            References,
            StatsBounds,
            Unique,
        )

        self.li_constraints = [
            Unique("l_key"),
            References("l_partkey", self.part, "p_partkey"),
            References("l_suppkey", self.supplier, "s_suppkey"),
            StatsBounds("l_quantity", max_null_rate=0.0, min_value=1, max_value=50),
            FunctionalDependency("l_shipdate", "l_linestatus"),
            NoDrift(
                "l_extendedprice", against=self.prev,
                max_abs_diff=gen.DRIFT_MAX_ABS_DIFF, probs=gen.DRIFT_PROBS,
            ),
        ]
        self.doc_constraints = [
            Unique("doc_id"),
            References("media_ref", self.catalog, "media_ref", explode_from="spans"),
        ]
        self.li_suite = ConstraintSuite(self.li_constraints)
        self.doc_suite = ConstraintSuite(self.doc_constraints)
        self.rows_per_iteration = self.expected["n_lineitem"] + self.expected["n_docs"]
        self.want = {c.name: self.expected[c.name] for c in self.li_constraints}
        self.want["unique:doc_id"] = self.expected["duplicate_keys"]
        self.want["references:media_ref"] = self.expected["orphan_refs"]

    def iteration(self) -> dict:
        return {
            "verdicts": self.bench.call(
                "constraints.suite",
                lambda: self.li_suite.check(self.lineitem).verdicts().collect()
                + self.doc_suite.check(self.docs).verdicts().collect(),
            )
        }

    def check(self, out: dict) -> list:
        failures = []
        got = {r["constraint"]: r["n_violations"] for r in out["verdicts"]}
        _expect(failures, "violations per constraint", got, self.want)
        return failures

    def probe_layers(self) -> None:
        """Each constraint kind as one-constraint suites, then the
        operators under them called directly."""
        from valideer_spark.constraints import ConstraintSuite
        from valideer_spark.operators import (
            column_profile,
            duplicate_keys,
            orphan_keys,
            quantile_drift,
        )

        b = self.bench
        frames = [(c, self.lineitem) for c in self.li_constraints]
        frames += [(c, self.docs) for c in self.doc_constraints]
        kinds: dict[str, list] = {}
        for c, df in frames:
            kinds.setdefault(c.name.split(":")[0], []).append((c, df))
        for kind, pairs in kinds.items():
            b.call(
                f"constraints.{kind}",
                lambda pairs=pairs: [
                    ConstraintSuite([c]).check(df).verdicts().collect() for c, df in pairs
                ],
            )
        li = self.lineitem
        b.call("operators.duplicate_keys", lambda: duplicate_keys(li, "l_key").count())
        b.call(
            "operators.orphan_keys",
            lambda: orphan_keys(li, "l_partkey", self.part, "p_partkey").count(),
        )
        b.call(
            "operators.column_profile",
            lambda: column_profile(
                li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey"]
            ).collect(),
        )
        b.call(
            "operators.quantile_drift",
            lambda: quantile_drift(li, self.prev, "l_extendedprice").collect(),
        )


WORKLOADS = {w.name: w for w in (DocsCheck, TableConstraints)}
