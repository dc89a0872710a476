"""The workloads. Each one generates its inputs from the seed, checks
the program's outputs once outside the timed passes (that pass is also
the warm-up), and runs closed-loop passes, one operation at a time,
timing each operation.

- ``queries``: relational queries from the head of ``GRADED_PREFIX``,
  whose time goes to the final execution, plus a curation capstone,
  whose time goes to the eager jobs its ``build()`` fires.
- ``medallion_incremental``: the dbt medallion DAG on seeded sensor
  seeds; full refresh into a fresh warehouse, the 54-test suite, then
  incremental merge batches. The only workload that writes.
"""

from __future__ import annotations

import os
import random
import shutil

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import PipelineRunner
from dbt_datbricks_demo_spark.queries import QUERIES
from dbt_datbricks_demo_spark.sources import load_seeds
from dbt_datbricks_demo_spark.sources.testdata import TABLES, load_table
from dbt_datbricks_demo_spark.testing import reference_suite, run_suite
from perfbench.datagen import IotSeeds, write_tables
from perfbench.probe import OpClock, Tracer, WarehouseProbe
from pyspark.sql import functions as F

# execution-dominated relational core: bench.py's scan-aggregate and
# shuffle-join canaries
RELATIONAL_CORE = ("pricing_summary", "daily_summary_join")
# build()-dominated: of the curation capstones the end-to-end corpus
# pipeline has the lowest cold-start cost; ~85% of its warm time is the
# eager jobs its build() fires
CURATION_CAPSTONES = ("corpus_pipeline",)


class Outcome:
    """Operations attempted and failed (raised or failed a check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


class QueryWorkload:
    # the oracle check leaves the JIT cold for the noop-sink path: one
    # untimed pass, then three timed ones (a warm pass is ~5 s), so that
    # every query's median has 3 samples
    warmup_passes = 2
    min_passes = 3

    def __init__(self, name: str, queries: tuple[str, ...], sf: float):
        self.name = name
        self.queries = queries
        self.sf = sf
        self.data_dir = ""

    def op_keys(self) -> list[str]:
        """The timed operations of one pass."""
        return list(self.queries)

    def generate(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "tables")
        shutil.rmtree(self.data_dir, ignore_errors=True)
        write_tables(self.data_dir, self.sf, seed)

    def register(self, spark) -> None:
        for t in TABLES:
            load_table(spark, self.data_dir, t)

    def check(self, spark, outcome: Outcome) -> None:
        """Each query once against its DuckDB oracle (this is also the
        warm-up: every query's code is generated and compiled here)."""
        from tests.oracle_harness import check_query, make_duckdb

        tracer = Tracer(spark, counting=False)
        con = make_duckdb(self.data_dir)
        try:
            for name in self.queries:
                try:
                    problems = check_query(spark, con, name, self.data_dir)
                except Exception as e:  # noqa: BLE001 - a failing query is a result
                    problems = [f"{type(e).__name__}: {e}"[:300]]
                outcome.record(not problems, f"check {name}: {problems}")
                tracer.after_op()
        finally:
            con.close()

    def run_pass(self, spark, tracer: Tracer, rng: random.Random,
                 outcome: Outcome) -> dict:
        """Every query once, in a seeded order: build(), physical
        planning, then the noop-sink execution."""
        clock = OpClock()
        for name in rng.sample(self.queries, len(self.queries)):
            t0 = clock.start()
            ok = True
            try:
                with tracer.span("queries.build", name):
                    df = QUERIES[name].build(spark, self.data_dir)
                with tracer.span("queries.plan", name):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("queries.exec", name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                outcome.record(False, f"{name}: {type(e).__name__}: {e}"[:300])
                ok = False
            if ok:
                clock.stop(name, t0)
                outcome.record(True, name)
            tracer.after_op()
        return {"wall": clock.wall, "cpu": clock.cpu}


class MedallionWorkload:
    name = "medallion_incremental"
    # a warm pass is ~16 s after a ~35 s cold check pass, which is the
    # warm-up; more than one timed pass does not fit the run-time budget
    warmup_passes = 0
    min_passes = 1

    def __init__(self, n_devices: int, base: int, increments: tuple[int, ...]):
        self.n_devices = n_devices
        self.base = base
        self.increments = increments
        self.work = ""
        self.seeds: IotSeeds | None = None
        self.batches: list[tuple[str, int]] = []
        self.n_pass = 0

    def op_keys(self) -> list[str]:
        """The timed operations of one pass (every increment counts; the
        median is taken over increments and passes)."""
        return ["full_refresh", "test_suite"] + ["incremental"] * len(self.increments)

    def generate(self, work: str, seed: int) -> None:
        self.work = work
        root = os.path.join(work, "seeds")
        shutil.rmtree(root, ignore_errors=True)
        self.seeds = IotSeeds(seed, self.n_devices, self.base, self.increments)
        self.batches = self.seeds.write(root)

    def register(self, spark) -> None:
        load_seeds(spark, self.batches[0][0])

    def check(self, spark, outcome: Outcome) -> None:
        """One untimed pass, checked like every timed one; it also warms
        up every path a timed pass takes, the incremental merge too."""
        self.run_pass(spark, Tracer(spark, counting=False), random.Random(0),
                      outcome)

    def _verify(self, spark, tracer, rel, batch: int, outcome: Outcome) -> None:
        with tracer.span("check"):
            row = rel["int_sensor_readings_cleaned"].agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_anomaly").cast("int")).alias("anomalies"),
            ).first()
        got, want = (row["n"], row["anomalies"]), self.seeds.expected[batch]
        outcome.record(got == want, f"batch {batch}: (rows, anomalies) {got} != {want}")

    def run_pass(self, spark, tracer: Tracer, rng: random.Random,
                 outcome: Outcome) -> dict:
        """Fresh warehouse; full refresh on batch 0; the reference test
        suite; then one incremental run per later batch, each with the
        pipeline clock advanced."""
        self.n_pass += 1
        warehouse = os.path.join(self.work, f"warehouse_{self.n_pass}")
        probe = WarehouseProbe(tracer)
        clock = OpClock()
        for batch, (seeds_dir, _new_bytes) in enumerate(self.batches):
            cfg = RunConfig(invocation_id="perfbench",
                            frozen_now=IotSeeds.frozen_now(batch),
                            warehouse_dir=warehouse)
            scan0 = probe.scan_s
            t0 = clock.start()
            try:
                with tracer.span("sources.load_seeds", f"batch{batch}"):
                    raw = load_seeds(spark, seeds_dir)
                runner = PipelineRunner(spark, cfg)
                probe.wrap(runner.mat)
                with tracer.span("plans.runner.run", f"batch{batch}"):
                    rel = runner.run(raw, full_refresh=batch == 0)
            except Exception as e:  # noqa: BLE001 - a failing run is a result
                outcome.record(False, f"batch {batch}: {type(e).__name__}: {e}"[:300])
                break
            clock.stop("full_refresh" if batch == 0 else "incremental", t0,
                       minus=probe.scan_s - scan0)
            self._verify(spark, tracer, rel, batch, outcome)
            if batch == 0:
                t0 = clock.start()
                with tracer.span("testing.run_suite") as sp:
                    results = run_suite(reference_suite(), rel)
                clock.stop("test_suite", t0)
                passed = sum(r.passed for r in results)
                sp.extra.update(tests=len(results), failed=len(results) - passed)
                outcome.record(passed == len(results) == 54,
                               f"suite: {passed}/{len(results)} passed")
            tracer.after_op()
        shutil.rmtree(warehouse, ignore_errors=True)
        return {"wall": clock.wall, "cpu": clock.cpu,
                "bytes_written": probe.bytes_written,
                "files_written": probe.files_written}

    def ingested_bytes(self) -> int:
        return sum(b for _d, b in self.batches)


WORKLOADS = {
    "queries": lambda: QueryWorkload(
        "queries", RELATIONAL_CORE + CURATION_CAPSTONES, 0.005),
    "medallion_incremental": lambda: MedallionWorkload(20, 20_000, (2_000,)),
}
