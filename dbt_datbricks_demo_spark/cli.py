"""Command-line entry point — the dbt-verb surface a reference user
already knows (SETUP_GUIDE.md:315-351: dbt seed / run / test;
plus the EDA notebook and freshness checks as verbs).

    python -m dbt_datbricks_demo_spark seed  --seeds-dir DIR
    python -m dbt_datbricks_demo_spark run   [--select bronze,silver,gold]
                                             [--full-refresh] [--gated]
    python -m dbt_datbricks_demo_spark test
    python -m dbt_datbricks_demo_spark freshness
    python -m dbt_datbricks_demo_spark eda   [query ...]
    python -m dbt_datbricks_demo_spark sql   "select ..."
    python -m dbt_datbricks_demo_spark docs  [--artifacts DIR [--catalog]]
    python -m dbt_datbricks_demo_spark unit-test
    python -m dbt_datbricks_demo_spark state-save DIR

State lives in RunConfig.warehouse_dir (parquet warehouse); each verb
builds what it needs from the seeds + existing materializations, so
`seed → run → test` behaves like the reference's workflow DAG.

`--seeds-dir` defaults to the reference seed snapshot,
/root/reference/seeds. Only the verbs that read seed CSVs load it:
seed, run, snapshot, test, freshness, sql, eda and `docs --catalog`.
unit-test (mock inputs), state-save (model fingerprints), verify
(testdata) and plain docs run without it.
"""

from __future__ import annotations

import argparse
import sys

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans.runner import PipelineRunner
from dbt_datbricks_demo_spark.queries.eda import ALL_EDA
from dbt_datbricks_demo_spark.session import get_spark
from dbt_datbricks_demo_spark.sources import load_seeds
from dbt_datbricks_demo_spark.sources.freshness import check_freshness
from dbt_datbricks_demo_spark.testing import reference_suite, run_suite
from dbt_datbricks_demo_spark.testing.runner import summarize


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbt_datbricks_demo_spark")
    p.add_argument(
        "--seeds-dir", default="/root/reference/seeds",
        help="directory of the three seed CSVs (default: the reference "
        "snapshot, %(default)s); read by seed, run, snapshot, test, "
        "freshness, sql, eda and docs --catalog",
    )
    p.add_argument("--warehouse-dir", default=None)
    p.add_argument("--target", default=None)
    sub = p.add_subparsers(dest="verb", required=True)
    sub.add_parser("seed", help="load the seed CSVs into the raw layer")
    run = sub.add_parser("run", help="build + materialize the model DAG")
    run.add_argument("--select", default=None, help="comma-separated tags")
    run.add_argument("--full-refresh", action="store_true")
    run.add_argument(
        "--gated", action="store_true",
        help="test silver before building gold (workflow gate)",
    )
    run.add_argument(
        "--state", default=None, metavar="DIR",
        help="slim CI: rebuild only models whose definition changed vs the "
        "saved state (+ downstream), like dbt --select state:modified+",
    )
    snap = sub.add_parser(
        "snapshot", help="apply the SCD2 device snapshot (dbt snapshot)"
    )
    snap.add_argument(
        "--at", default=None,
        help="batch timestamp (YYYY-MM-DD HH:MM:SS); defaults to now",
    )
    state = sub.add_parser(
        "state-save", help="save model-definition fingerprints for --state"
    )
    state.add_argument("dir", help="directory for manifest_fingerprints.json")
    sub.add_parser(
        "unit-test", help="run the registered model unit tests (mock inputs)"
    )
    sub.add_parser("test", help="run the data-quality suite")
    sub.add_parser("freshness", help="source freshness vs warn/error SLAs")
    eda = sub.add_parser("eda", help="run analytical queries")
    eda.add_argument("queries", nargs="*", default=[])
    sql = sub.add_parser(
        "sql", help="ad-hoc Spark SQL over the built relations (temp views)"
    )
    sql.add_argument("statement")
    sql.add_argument("--limit", type=int, default=50)
    verify = sub.add_parser(
        "verify",
        help="run every registered query against its DuckDB oracle "
        "(the driver-scale parity sweep; exit 1 on any mismatch)",
    )
    verify.add_argument(
        "--sf", default="/root/testdata/sf0.01",
        help="testdata dir (default sf0.01 — the driver's grading scale)",
    )
    verify.add_argument("queries", nargs="*", default=[])
    verify.add_argument(
        "--prefix",
        action="store_true",
        help="verify the 50-query GRADED_PREFIX (use with --sf "
        "/root/testdata/sf0.1 for the above-driver-scale ceiling gate)",
    )
    docs = sub.add_parser(
        "docs", help="print the model DAG; --artifacts writes manifest/catalog"
    )
    docs.add_argument(
        "--artifacts",
        metavar="DIR",
        help="write manifest.json (+ catalog.json with --catalog) to DIR",
    )
    docs.add_argument(
        "--catalog",
        action="store_true",
        help="also emit catalog.json (schema per model; needs a Spark session)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    cfg_kwargs = {}
    if args.warehouse_dir:
        cfg_kwargs["warehouse_dir"] = args.warehouse_dir
    if args.target:
        cfg_kwargs["target"] = args.target
    cfg = RunConfig(**cfg_kwargs)

    if args.verb == "docs":
        from dbt_datbricks_demo_spark.plans.dag import MODELS, topo_order
        from dbt_datbricks_demo_spark.plans.docs import (
            build_catalog,
            build_manifest,
            write_artifacts,
        )

        print(f"{'model':<28} {'materialization':<15} {'layer':<8} depends on")
        for name in topo_order(MODELS):
            m = MODELS[name]
            deps = ", ".join(m.deps) if m.deps else "(sources)"
            print(f"{name:<28} {m.materialization:<15} {m.schema_suffix:<8} {deps}")
        if args.artifacts:
            catalog = None
            if args.catalog:  # schema inference needs a session + seeds
                spark = get_spark(app_name="engine-docs")
                spark.sparkContext.setLogLevel("ERROR")
                catalog = build_catalog(
                    spark, load_seeds(spark, args.seeds_dir), cfg
                )
            for path in write_artifacts(args.artifacts, build_manifest(), catalog):
                print(f"wrote {path}")
        return 0

    if args.verb == "verify":
        # round-end driver-scale parity gate: one command, 95/95 or exit 1
        import os
        import sys as _sys

        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        if repo_root not in _sys.path:
            _sys.path.insert(0, repo_root)
        from tests.oracle_harness import run as oracle_run

        names = args.queries or None
        if args.prefix:
            from dbt_datbricks_demo_spark.queries import GRADED_PREFIX

            names = list(GRADED_PREFIX) + (args.queries or [])
        return oracle_run(args.sf, names)

    if args.verb == "state-save":
        from dbt_datbricks_demo_spark.plans import state as state_mod

        print(f"wrote {state_mod.save_state(args.dir)}")
        return 0

    spark = get_spark(app_name=f"engine-{args.verb}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.verb == "unit-test":
        from dbt_datbricks_demo_spark.testing.unit import run_unit_suite
        from dbt_datbricks_demo_spark.testing.unit_suite import UNIT_SUITE

        results = run_unit_suite(spark, UNIT_SUITE, cfg)
        for r in results:
            print(f"{'PASS' if r.passed else 'FAIL'} {r.name}"
                  + ("" if r.passed else f": {r.message}"))
        n_pass = sum(r.passed for r in results)
        print(f"Done. PASS={n_pass} FAIL={len(results) - n_pass} "
              f"TOTAL={len(results)}")
        return 0 if n_pass == len(results) else 1

    # every verb below reads the seed CSVs
    seeds = load_seeds(spark, args.seeds_dir)
    runner = PipelineRunner(spark, cfg)

    if args.verb == "seed":
        for name, df in seeds.items():
            runner.mat.as_table(name, "raw", df)
            print(f"seeded {name}: {df.count()} rows")
        return 0

    if args.verb == "run":
        if args.gated:
            relations, results = runner.run_gated(seeds)
            print(summarize(results))
            ok = all(r.passed for r in results)
            print(f"built {len(relations) - len(seeds)} relations (gated)")
            return 0 if ok else 1
        select_names = None
        if args.state:
            from dbt_datbricks_demo_spark.plans import state as state_mod

            select_names = state_mod.modified_plus_downstream(args.state)
            print(
                f"state:modified+ selected {len(select_names)} models: "
                f"{', '.join(sorted(select_names)) or '(none)'}"
            )
        tags = set(args.select.split(",")) if args.select else None
        relations = runner.run(
            seeds,
            select_tags=tags,
            full_refresh=args.full_refresh,
            select_names=select_names,
        )
        built = [n for n in relations if n not in seeds]
        print(f"built {len(built)} relations: {', '.join(built)}")
        return 0

    if args.verb == "snapshot":
        import datetime as dt

        from dbt_datbricks_demo_spark.plans.dag import MODELS
        from dbt_datbricks_demo_spark.plans.snapshots import (
            SnapshotConfig,
            snapshot_apply,
        )

        snap_cfg = SnapshotConfig(
            unique_key="device_id",
            strategy="check",
            check_cols=(
                "plant_location", "factory_zone", "firmware_version", "is_active"
            ),
        )
        batch_ts = args.at or dt.datetime.now().strftime("%Y-%m-%d %H:%M:%S")
        source = MODELS["stg_devices"].build(seeds, cfg).select(
            "device_id", "device_name", "device_type", "plant_location",
            "factory_zone", "firmware_version", "is_active",
        )
        existing = (
            runner.mat.read("devices_snapshot", "snapshots")
            if runner.mat.exists("devices_snapshot", "snapshots")
            else None
        )
        result = snapshot_apply(existing, source, snap_cfg, batch_ts=batch_ts)
        out = runner.mat.as_table("devices_snapshot", "snapshots", result)
        n_open = out.filter(out.dbt_valid_to.isNull()).count()
        print(
            f"devices_snapshot: {out.count()} rows ({n_open} open) as of {batch_ts}"
        )
        return 0

    if args.verb == "test":
        relations = runner.run(seeds)
        results = run_suite(reference_suite(), relations)
        print(summarize(results))
        return 0 if all(r.passed for r in results) else 1

    if args.verb == "freshness":
        # loaded_at fields per sources.yml:7-10,30-31,46 (devices opt out)
        spec = {
            "raw_sensor_readings": "ingested_at",
            "raw_devices": None,
            "raw_alerts": "alert_ts",
        }
        code = 0
        for name, field in spec.items():
            res = check_freshness(seeds[name], name, field)
            age = f"{res.age_seconds / 3600:.1f}h" if res.age_seconds else "-"
            print(f"{name}: {res.status} (age {age})")
            code = max(code, 1 if res.status == "error" else 0)
        return code

    if args.verb == "sql":
        runner.run(seeds)  # every model registered as a temp view
        for name, df in seeds.items():
            df.createOrReplaceTempView(name)
        spark.sql(args.statement).show(args.limit, truncate=False)
        return 0

    if args.verb == "eda":
        relations = runner.run(seeds)
        names = args.queries or list(ALL_EDA)
        for name in names:
            print(f"== {name}")
            ALL_EDA[name](relations).show(20, truncate=False)
        return 0

    raise AssertionError(args.verb)  # pragma: no cover


if __name__ == "__main__":
    sys.exit(main())
