"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``perfbench/workloads.py``) from the root of a
checkout and prints, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run measures one untraced pass, restarts the session with the Spark
event log on, traces two passes (so that counts can be compared pass to
pass; ``--seconds`` is not used) and prints the per-layer metrics plus
the tracing overhead; its spans are written to
``.perfbench_out/<workload>-spans.jsonl``.

A run: start the session, generate and register the inputs, run the
untimed check pass and the workload's untimed warm-up passes
(``setup_s`` is process start to here), then run timed passes until
``--seconds`` have elapsed and at least the workload's ``min_passes``
have run. ``pass_cpu_s`` is the CPU time of a pass, wall time is
printed per pass on standard error. The pinned settings, the reason
for CPU time and the run-time budget behind the pass counts are
documented in ``perfbench/README.md``. Everything the run writes stays
under ``.perfbench_work/`` in the checkout and is deleted at exit,
except the span file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
N_CPU = len(os.sched_getaffinity(0))
MASTER = f"local[{N_CPU}]"
JVM_HEAP = "3g"  # the package default (24g) exceeds a 15 GB host


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _pin_environment(work: str) -> None:
    """Everything Spark and the program write goes under ``work``."""
    for sub in ("local", "tmp", "index_cache", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(work, "index_cache")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _session_conf(work: str, event_log: bool) -> dict[str, str]:
    from perfbench.probe import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # A fixed set of JIT compiler threads: a thread the JVM retires
        # takes its CPU time out of the per-thread accounting that
        # ``probe.OpClock`` subtracts (the threads are the same, only
        # started up front instead of on demand). A heap committed in
        # full from the start: otherwise each full GC (the hygiene's
        # and the context cleaner's periodic one) may shrink it, and
        # the next operation's GC work then depends on when the heap
        # grows back.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-XX:-UseDynamicNumberOfCompilerThreads -Xms{JVM_HEAP}"),
    }
    if event_log:
        conf.update(event_log_conf(os.path.join(work, "events")))
    return conf


def _start_session(work: str, event_log: bool = False):
    from dbt_datbricks_demo_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=MASTER,
                      extra_conf=_session_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_python_workers(spark) -> None:
    """Start the Python worker daemon and Arrow path once per session
    (untimed), as ``bench.py``'s warm-up does."""
    df = spark.range(64).repartition(N_CPU)
    df.mapInPandas(lambda it: it, df.schema).write.format("noop").mode(
        "overwrite").save()


def _stop_jvm() -> None:
    """Stop the session and the JVM the gateway launched; wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()


def main() -> int:
    args = _parse()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    # the program itself: without it the benchmark fails here
    import __spark_entry__  # noqa: F401
    from perfbench import layers
    from perfbench.probe import Tracer, attach_event_log, retained_heap_mb
    from perfbench.workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    outcome = Outcome()
    try:
        # set-up: session start, inputs, registration, check, warm-up
        t0 = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t0
        wl.generate(work, args.seed)
        wl.register(spark)
        t0 = time.perf_counter()
        wl.check(spark, outcome)
        rng = random.Random(args.seed)
        warm_tracer = Tracer(spark, counting=False)
        for _ in range(wl.warmup_passes):
            wl.run_pass(spark, warm_tracer, rng, outcome)
        check_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_PROCESS

        def timed_passes(tracer: Tracer, seconds: float, min_passes: int) -> list[dict]:
            out, t_end = [], time.perf_counter() + seconds
            while len(out) < min_passes or time.perf_counter() < t_end:
                tracer.pass_no = len(out)
                out.append(wl.run_pass(tracer.spark, tracer, rng, outcome))
                print(f"perfbench pass {len(out)}: " + json.dumps(
                    {k: [f"{w:.2f} s / {c:.2f} cpu-s" for w, c in
                         zip(out[-1]["wall"][k], out[-1]["cpu"][k])]
                     for k in out[-1]["wall"]}), file=sys.stderr)
            return out

        untraced_tracer = Tracer(spark, counting=False)
        if not args.trace:
            untraced = timed_passes(untraced_tracer, args.seconds, wl.min_passes)
            metrics = {
                "pass_cpu_s": (layers.pass_seconds(wl, untraced, "cpu"), "s"),
                "setup_s": (setup_s, "s"),
                "memory_mb": (retained_heap_mb(spark)
                              + untraced_tracer.peak_cached_mb, "MiB"),
            }
        else:
            untraced = timed_passes(untraced_tracer, 0, 1)
            spark.stop()
            spark = _start_session(work, event_log=True)
            _warm_python_workers(spark)
            tracer = Tracer(spark, counting=True)
            traced = timed_passes(tracer, 0, 2)
            app_id = spark.sparkContext.applicationId
            spark.stop()
            attach_event_log(tracer.spans, os.path.join(work, "events"), app_id)
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"{args.workload}-spans.jsonl"))
            metrics = layers.per_layer(wl, tracer, traced, untraced, session_s)
    finally:
        _stop_jvm()
    for p in outcome.problems[:20]:
        print(f"FAILED {p}", file=sys.stderr)
    print(f"perfbench {args.workload}: session {session_s:.1f} s, "
          f"check + warm-up {check_s:.1f} s, setup {setup_s:.1f} s, passes {len(untraced)} untraced"
          f"{f' + {len(traced)} traced' if args.trace else ''}, "
          f"total {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
