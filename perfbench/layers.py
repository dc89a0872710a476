"""Per-layer metrics from a traced run's spans.

Every metric is a per-pass total (median over the traced passes) unless
named otherwise. A workload that does not call into a layer reports
that layer's metrics as 0.
"""

from __future__ import annotations

import statistics

from perfbench.probe import Tracer
from perfbench.workloads import MedallionWorkload

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "pass_s": "s",
    "session.start_s": "s",
    "sources.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.build_task_ms": "ms",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.exec_stages": "count",
    "queries.exec_tasks": "count",
    "queries.exec_task_ms": "ms",
    "queries.exec_shuffle_bytes": "B",
    "queries.exec_spill_bytes": "B",
    "queries.exec_single_task_stages": "count",
    "queries.eager_job_share": "ratio",
    "queries.jobs": "count",
    "plans.runner.run_s": "s",
    "plans.runner.self_s": "s",
    "plans.materialize.as_table_s": "s",
    "plans.materialize.merge_upsert_s": "s",
    "plans.materialize.high_water_s": "s",
    "plans.materialize.bytes_written": "B",
    "plans.materialize.files_written": "count",
    "plans.materialize.task_ms": "ms",
    "testing.run_suite_s": "s",
    "testing.jobs": "count",
    "testing.tests": "count",
    "testing.failed": "count",
    "medallion.full_refresh_s": "s",
    "medallion.incremental_s": "s",
    "medallion.test_suite_s": "s",
    "medallion.write_amp": "ratio",
    "trace.overhead_s": "s",
}


def pass_seconds(wl, passes: list[dict], clock: str = "wall") -> float:
    """One pass's ``wall`` (or ``cpu``) seconds with each operation at
    its median over the passes run."""
    return sum(median([t for p in passes for t in p[clock].get(k, ())])
               for k in wl.op_keys())


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, tracer: Tracer, traced: list[dict], untraced: list[dict],
              session_start_s: float) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    n_pass = len(traced)
    by_pass: list[dict[str, float]] = [dict.fromkeys(PER_LAYER, 0.0) for _ in range(n_pass)]

    def add(p: int, key: str, v: float) -> None:
        by_pass[p][key] += v

    for i, sp in enumerate(spans):
        p = sp.pass_no
        kind = sp.name
        if kind in ("queries.build", "queries.exec"):
            ph = kind.split(".")[1]
            add(p, f"queries.{ph}_s", sp.seconds)
            add(p, f"queries.{ph}_jobs", len(sp.jobs))
            add(p, f"queries.{ph}_stages", sp.stages)
            add(p, f"queries.{ph}_task_ms", sp.task_ms)
            add(p, "queries.jobs", len(sp.jobs))
            if ph == "exec":
                add(p, "queries.exec_tasks", sp.tasks)
                add(p, "queries.exec_shuffle_bytes", sp.shuffle_bytes)
                add(p, "queries.exec_spill_bytes", sp.spill_bytes)
                add(p, "queries.exec_single_task_stages", sp.single_task_stages)
        elif kind == "queries.plan":
            add(p, "queries.plan_s", sp.seconds)
        elif kind == "sources.load_seeds":
            add(p, "sources.load_s", sp.seconds)
        elif kind == "plans.runner.run":
            # the warehouse listings after each write are the probe's
            scan = sum(c.extra.get("scan_s", 0.0) for c in spans if c.parent == i)
            add(p, "plans.runner.run_s", sp.seconds - scan)
            add(p, "plans.runner.self_s", tracer.self_seconds(i) - scan)
        elif kind.startswith("plans.materialize."):
            method = kind.rsplit(".", 1)[1]
            if f"plans.materialize.{method}_s" in PER_LAYER:
                add(p, f"plans.materialize.{method}_s", sp.seconds)
            add(p, "plans.materialize.bytes_written", sp.extra.get("bytes_written", 0))
            add(p, "plans.materialize.files_written", sp.extra.get("files_written", 0))
            add(p, "plans.materialize.task_ms", sp.task_ms)
        elif kind == "testing.run_suite":
            add(p, "testing.run_suite_s", sp.seconds)
            add(p, "testing.jobs", len(sp.jobs))
            add(p, "testing.tests", sp.extra.get("tests", 0))
            add(p, "testing.failed", sp.extra.get("failed", 0))

    out = {k: median([bp[k] for bp in by_pass]) for k in PER_LAYER}
    out["pass_s"] = pass_seconds(wl, traced)
    out["session.start_s"] = session_start_s
    jobs = out["queries.jobs"]
    out["queries.eager_job_share"] = out["queries.build_jobs"] / jobs if jobs else 0.0
    if isinstance(wl, MedallionWorkload):
        for op in ("full_refresh", "test_suite", "incremental"):
            out[f"medallion.{op}_s"] = median(
                [t for p in traced for t in p["wall"].get(op, ())])
        written = median([p["bytes_written"] for p in traced])
        out["medallion.write_amp"] = written / wl.ingested_bytes()
    out["trace.overhead_s"] = pass_seconds(wl, traced) - pass_seconds(wl, untraced)
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}
