"""Benchmark runner: executes the operator-inventory queries at a scale
factor and prints ONE JSON line for the driver.

  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default *)
  BENCH_QUERIES        comma-separated subset (default: all)
  BENCH_RUNS           runs per query, best-of (default 3)

Each query is forced end-to-end with a noop-format write (full compute,
no driver-side result materialization cost).

The JSON line is TRUNCATION-PROOF for tail capture: the per-query maps
("queries", "spread", "errors") come first and the headline fields
(metric/value/unit/n/sf) are printed LAST, so a capture that keeps only
the tail of the line still carries the wall time, query/error counts,
and scale factor (the round-3 BENCH artifact lost exactly those by
truncating from the front). test_bench_contract pins the field order.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_datbricks_demo_spark.queries import QUERIES  # noqa: E402
from dbt_datbricks_demo_spark.session import get_spark  # noqa: E402

# best-of-N spread above this max/min ratio marks a query unstable —
# the same regression gate the round-3 verdict asked for. Queries whose
# best run is under SPREAD_FLAG_MIN_SEC are exempt: at a few hundred ms
# the ratio measures scheduler jitter, not plan instability, and the
# noise drowned the signal (45 of 130 flagged, almost all sub-second).
SPREAD_FLAG_RATIO = 1.3
SPREAD_FLAG_MIN_SEC = 0.5

# how many per-query timings are repeated in the truncation-safe tail
SLOWEST_TOP_N = 15

# DRIFT CANARY BASKET (round-6 verdict; widened round 9): unchanged-code
# queries drifted up to 1.43x between round artifacts from environment
# alone, and the artifact could not distinguish that from a plan
# regression. One sub-second scan-agg canary proved insufficient when a
# session's noise concentrated in heavy SHUFFLE queries (BENCH_r08
# false-flagged scd2_snapshot and neardup_components while its canary
# read FASTER than the prior round) — so the basket now spans the three
# execution shapes, all code-frozen, oracled and plan-pinned since the
# early rounds. Each is timed CANARY_RUNS times after the sweep,
# regardless of BENCH_QUERIES subsets; the session drift factor is the
# MEDIAN of the per-shape ratios (robust to one noisy shape).
CANARY_QUERIES = {
    "scan_agg": "pricing_summary",       # round-1 frozen, the r6 canary
    "shuffle_join": "daily_summary_join",  # composite-key fact join
    "window": "window_functions",        # frozen window-family query
}
CANARY_QUERY = CANARY_QUERIES["scan_agg"]
CANARY_RUNS = 3

# drift-NORMALIZED cross-round regression verdict (round-8 verdict):
# vs_prev[q] = (t_now/t_prev) / drift against the newest BENCH_r*.json
# in the repo. Round-9 changes (both round-9 verdict nit 1 / advice):
#   * a query is FLAGGED only when raw AND normalized both exceed the
#     ratio — a noisy canary can no longer manufacture regressions;
#   * vs_prev is skipped entirely when the previous artifact ran at a
#     DIFFERENT scale factor (the ratios would be meaningless).
VS_PREV_FLAG_RATIO = 1.3
# the prefix50 aggregate averages 50 queries' noise, so its flag
# threshold is tighter than the per-query one (round-11 verdict
# item 5: >1.15x after drift normalization)
VS_PREV_PREFIX50_FLAG_RATIO = 1.15


def load_prev_bench(repo_dir: str) -> dict | None:
    """Previous-round per-query timings + canary, from the newest
    BENCH_r*.json. The driver's artifact keeps only the truncation-safe
    TAIL of the JSON line, so when no full parse is stored this
    recovers the `slowest` top-N map and the canary from the tail —
    exactly the regression-sensitive set the tail exists to protect."""
    import glob
    import re

    paths = sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json")))
    if not paths:
        return None
    try:
        with open(paths[-1]) as fh:
            art = json.load(fh)
    except Exception:  # noqa: BLE001
        return None
    out = {
        "src": os.path.basename(paths[-1]),
        "queries": {},
        "canary": None,
        "canary_basket": {},
        "sf": None,
        "prefix50_wall": None,
    }

    def _take_canary(cdict: dict) -> None:
        out["canary"] = cdict.get("best")
        out["canary_basket"] = {
            shape: cdict[shape]
            for shape in CANARY_QUERIES
            if isinstance(cdict.get(shape), (int, float))
        }

    parsed = art.get("parsed")
    if isinstance(parsed, dict) and parsed.get("queries"):
        out["queries"] = dict(parsed["queries"])
        _take_canary(parsed.get("canary") or {})
        out["sf"] = parsed.get("sf")
        out["prefix50_wall"] = parsed.get("prefix50_wall")
        return out
    tail = art.get("tail") or ""
    m = re.search(r'"prefix50_wall":\s*([0-9.eE+-]+)', tail)
    if m:
        try:
            out["prefix50_wall"] = float(m.group(1))
        except ValueError:
            pass
    m = re.search(r'"slowest":\s*(\{[^{}]*\})', tail)
    if m:
        try:
            out["queries"] = json.loads(m.group(1))
        except Exception:  # noqa: BLE001
            pass
    m = re.search(r'"canary":\s*(\{[^{}]*\})', tail)
    if m:
        try:
            _take_canary(json.loads(m.group(1)))
        except Exception:  # noqa: BLE001
            pass
    # sf is the LAST field of the line — always in a tail capture
    m = re.search(r'"sf":\s*([0-9.eE+-]+)', tail)
    if m:
        try:
            out["sf"] = float(m.group(1))
        except ValueError:
            pass
    return out if out["queries"] or out["canary"] else None


def _unpersist_all(spark) -> None:
    """Drop cached/localCheckpointed blocks left behind by a finished
    query. The size-guarded operators eagerly localCheckpoint small
    relations (candidate pairs, signature tables); across 95 queries × N
    runs those blocks pile up in the block manager and the later
    queries' timings degrade from memory pressure. Each query's blocks
    are dead once its noop write returns — freeing them keeps runs
    independent."""
    it = (
        spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    )
    while it.hasNext():
        it.next().unpersist(False)


def _gc_quiesce(spark) -> None:
    """Force a driver GC BETWEEN queries (outside any timed section).

    Spark's ContextCleaner reclaims shuffle files, broadcast blocks and
    RDD metadata only when the driver GC collects their weak
    references; across 100+ queries in a 24 GiB heap the JVM may not GC
    for minutes and cleanup debt accumulates into later timings. (Note:
    this is hygiene, not the fix for the historical 3 s / 15 s bimodal
    mode of the near-dup family — that was interpreted higher-order-
    function eval losing the JIT-profile lottery, fixed structurally by
    dedup.shingle_hash_rows; explicit GC and a 1 GiB code cache were
    both tested and did NOT remove it.)"""
    try:
        spark._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


def spread_map(all_runs: dict[str, list[float]]) -> dict[str, float]:
    """Per-query max/min ratio over the WARM runs (run order preserved;
    the first run is excluded when 3+ runs exist): the first pass pays
    one-time codegen/JIT compile, so including it made every
    compile-heavy query read as "unstable". Above SPREAD_FLAG_RATIO on
    warm runs the number is a lottery, not a measurement — surfaced,
    not hidden in the best-of min."""
    out = {}
    for n, ts in all_runs.items():
        warm = ts[1:] if len(ts) >= 3 else ts
        out[n] = round(max(warm) / max(min(warm), 1e-9), 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # no console progress bars: the driver records the merged output tail,
    # which should end with the JSON line, not stage-bar control chars
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    selected = os.environ.get("BENCH_QUERIES")
    names = selected.split(",") if selected else list(QUERIES)

    # warmups are best-effort: a failure here must not kill the bench
    try:
        # JVM + parquet footer caches, tiny action
        QUERIES["union_report"].build(spark, sf_dir).collect()
        # Python worker daemons + Arrow codepath (first mapInPandas in a
        # fresh JVM costs ~20 s of one-time fork/import across workers)
        warm = spark.range(64).repartition(32)
        warm.mapInPandas(lambda it: it, warm.schema).write.format(
            "noop"
        ).mode("overwrite").save()
        # minhash/shingle codegen + md5 JIT: the near-dup family's first
        # execution pays ~10 s of Janino/C2 compile in a fresh JVM;
        # paying it here on 64 tiny docs keeps it out of the timings
        from dbt_datbricks_demo_spark.operators import dedup as _dedup

        tiny = spark.createDataFrame(
            [(i, f"warm up doc {i} shared shingle text {i % 8}") for i in range(64)],
            "doc_id long, text string",
        )
        _dedup.neardup_clusters(tiny, jaccard_threshold=0.9).write.format(
            "noop"
        ).mode("overwrite").save()
        _unpersist_all(spark)
    except Exception as e:  # noqa: BLE001
        print(f"warmup failed (continuing): {e}", file=sys.stderr)

    # best-of-N per query: one JVM sees every query once before any
    # second run, so codegen/JIT warmup and stray GC pauses don't land in
    # the reported steady-state number. Each query is fault-isolated: one
    # failing query records an error string and the bench still emits the
    # JSON line for everything that ran (round 2 shipped blind on perf
    # because a single AnalysisException crashed the whole run).
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for _ in range(runs):
        for name in names:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                QUERIES[name].build(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                all_runs.pop(name, None)
                continue
            finally:
                elapsed = round(time.perf_counter() - t0, 3)
                try:
                    _unpersist_all(spark)
                except Exception:  # noqa: BLE001
                    pass
                _gc_quiesce(spark)
            all_runs.setdefault(name, []).append(elapsed)

    timings = {n: min(ts) for n, ts in all_runs.items()}
    spread = spread_map(all_runs)
    high_spread = sorted(
        n
        for n, s in spread.items()
        if s > SPREAD_FLAG_RATIO and timings[n] >= SPREAD_FLAG_MIN_SEC
    )

    # drift canary basket: timed AFTER the full sweep (same thermal/heap
    # state the late queries saw), best-effort fault-isolated like the
    # sweep. Per-shape bests are FLAT keys inside the canary dict — the
    # tail-recovery regex on future rounds' artifacts only parses a
    # non-nested object.
    canary: dict = {"query": CANARY_QUERY, "runs_n": CANARY_RUNS}
    for shape, qname in CANARY_QUERIES.items():
        try:
            cruns: list[float] = []
            for _ in range(CANARY_RUNS):
                t0 = time.perf_counter()
                QUERIES[qname].build(spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                cruns.append(round(time.perf_counter() - t0, 3))
                try:
                    _unpersist_all(spark)
                except Exception:  # noqa: BLE001
                    pass
                _gc_quiesce(spark)
            canary[shape] = min(cruns)
            if qname == CANARY_QUERY:
                canary["runs"] = cruns
                canary["best"] = min(cruns)
                canary["median"] = sorted(cruns)[len(cruns) // 2]
        except Exception as e:  # noqa: BLE001
            canary.setdefault(
                "error", f"{shape}/{qname}: {type(e).__name__}: {e}"[:200]
            )

    # orderly shutdown BEFORE the result line: an exiting JVM with
    # in-flight task-completion events logs spurious DAGScheduler
    # errors into stderr (seen in round 1's recorded tail)
    spark.stop()

    # top-N per-query timings, repeated in the truncation-safe tail: the
    # full "queries" map prints FIRST and gets front-truncated in the
    # driver's artifact (happened in rounds 3 AND 4) — the slowest-query
    # regression signal must survive in the tail next to the headline
    # scalars.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:SLOWEST_TOP_N]
    )

    # timing quantiles (nearest-rank) — a regression in a query OUTSIDE
    # the top-15 is invisible in "slowest" but moves q50/q90/q99; these
    # three scalars also live in the truncation-safe tail (round-5
    # verdict ask).
    def _q(sorted_vals: list[float], p: float) -> float:
        if not sorted_vals:
            return 0.0
        idx = max(0, min(len(sorted_vals) - 1,
                         int(p * len(sorted_vals) + 0.999999) - 1))
        return sorted_vals[idx]

    tvals = sorted(timings.values())
    tq = {
        "q50": _q(tvals, 0.50),
        "q90": _q(tvals, 0.90),
        "q99": _q(tvals, 0.99),
    }

    # FIELD ORDER MATTERS: per-query maps first, headline scalars LAST —
    # tail-truncation must never eat wall time / counts / sf.
    payload: dict = {"queries": timings, "spread": spread}
    if high_spread:
        payload["high_spread"] = high_spread
    if errors:
        payload["errors"] = errors
    payload["slowest"] = slowest
    payload["tq"] = tq
    # fixed-subset track (round-10 verdict item 3): wall over the FROZEN
    # GRADED_PREFIX-50 only. The headline wall grows every time a query
    # is registered, so round-over-round it conflates registry growth
    # with drift; this series is comparable across rounds by
    # construction (the prefix is pinned and test_entry_contract guards
    # it). Lives in the truncation-safe tail.
    try:
        from dbt_datbricks_demo_spark.queries import GRADED_PREFIX

        prefix_times = [
            timings[q] for q in GRADED_PREFIX if q in timings
        ]
        payload["prefix50_wall"] = round(sum(prefix_times), 3)
        payload["prefix50_n"] = len(prefix_times)
    except Exception as e:  # noqa: BLE001
        payload["prefix50_error"] = f"{type(e).__name__}: {e}"[:200]
    payload["canary"] = canary
    # drift-normalized cross-round verdict, in the truncation-safe tail:
    # computed only over queries the previous artifact preserved (its
    # slowest top-N, or the full map when a parse survived). Skipped
    # outright when the previous artifact ran at a different sf — the
    # ratios would compare different data sizes (round-9 advice).
    prev = load_prev_bench(os.path.dirname(os.path.abspath(__file__)))
    sf_now = float(sf) if sf.replace(".", "").isdigit() else sf
    vs_prev: dict = {}
    flagged: list = []
    drift = None
    drifts: dict = {}
    src = prev["src"] if prev else None
    if prev and prev.get("sf") is not None and prev["sf"] != sf_now:
        src = f"{src} (sf {prev['sf']} != {sf_now}: vs_prev skipped)"
    elif prev:
        # per-shape drift where the previous artifact carried the
        # basket; the session factor is the MEDIAN of the shapes (one
        # noisy shape — e.g. shuffle-heavy interference — can no longer
        # masquerade as a regression in every shuffle query). Artifacts
        # older than round 9 carried only the scan_agg canary.
        for shape in CANARY_QUERIES:
            cn = canary.get(shape)
            cp = prev.get("canary_basket", {}).get(shape)
            if cn and cp:
                drifts[shape] = round(cn / cp, 3)
        if not drifts and canary.get("best") and prev.get("canary"):
            drifts["scan_agg"] = round(canary["best"] / prev["canary"], 3)
        if drifts:
            dv = sorted(drifts.values())
            drift = dv[len(dv) // 2]
        for q, tprev in prev["queries"].items():
            if q in timings and tprev:
                raw = timings[q] / tprev
                norm = raw / drift if drift else raw
                vs_prev[q] = round(norm, 3)
                # dual condition: raw AND normalized must both exceed
                # the ratio (round-9 verdict nit 1 — a fast canary made
                # r8 flag queries that measured flat on a frozen tree)
                if raw > VS_PREV_FLAG_RATIO and norm > VS_PREV_FLAG_RATIO:
                    flagged.append(q)
    payload["vs_prev"] = vs_prev
    payload["vs_prev_src"] = src
    payload["vs_prev_drift"] = drift
    payload["vs_prev_drifts"] = drifts
    payload["vs_prev_flagged"] = sorted(flagged)
    # round-over-round prefix50 track (round-11 verdict item 5): the
    # frozen-denominator series compares THIS run's prefix50_wall to
    # the previous artifact's, drift-normalized; >1.15 after
    # normalization is a flag. Skipped with vs_prev on sf mismatch.
    prev_p50 = prev.get("prefix50_wall") if prev else None
    now_p50 = payload.get("prefix50_wall")
    if (
        prev_p50
        and now_p50
        and not (prev and prev.get("sf") is not None and prev["sf"] != sf_now)
    ):
        raw = now_p50 / prev_p50
        norm = raw / drift if drift else raw
        payload["vs_prev_prefix50"] = round(norm, 3)
        payload["vs_prev_prefix50_raw"] = round(raw, 3)
        payload["vs_prev_prefix50_flagged"] = bool(
            raw > VS_PREV_PREFIX50_FLAG_RATIO
            and norm > VS_PREV_PREFIX50_FLAG_RATIO
        )
    payload["metric"] = "operator-inventory wall time"
    payload["value"] = round(sum(timings.values()), 3)
    payload["unit"] = "sec"
    payload["n"] = len(timings)
    payload["n_errors"] = len(errors)
    payload["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    # insurance copy of the FULL payload (round-12 verdict item 2): the
    # driver's artifact keeps only a tail of the printed line, and when
    # that tail truncates mid-map the round-over-round per-query
    # comparison dies (it did between r11 and r12). Best-effort,
    # additions-only: the printed one-line contract is unchanged.
    # Full-inventory runs only — a BENCH_QUERIES subset (tests, A/Bs)
    # must not clobber the last full map.
    # Written atomically (temp file in the same directory, then
    # os.replace): a run killed mid-write leaves the previous map whole.
    # open() creates the temp file with the usual umask-derived mode.
    if not selected:
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"
        )
        tmp = f"{out}.{os.getpid()}.tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump(payload, fh)
            os.replace(tmp, out)
        except Exception:  # noqa: BLE001
            if os.path.exists(tmp):
                os.remove(tmp)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
