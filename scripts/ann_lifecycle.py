"""Batch IVF-PQ index LIFECYCLE at a production-scale vector corpus
(round-11 verdict item 3).

The MinHash standing index has prod-scale lifecycle evidence
(scripts/tier2_lifecycle.py on 2,005,000 docs — TIER2_PROD.json
"lifecycle"); the vector-index twin was only gated at x100 (200k
vectors). This script runs the SAME lifecycle discipline the graded
ann_index_maintenance query exercises at sf scales — build generation
A, append generation B, tombstone-delete a slice, compact, probe — on
a 2,002,000-vector corpus (deterministic 1001x scale-up of the sf0.1
embeddings, testing/scaleup.py), every write under the writer lock
(operators/locks.py; each similarity write path takes it internally):

    gen A   = vec_id % 10 <= 4            (written, mode fresh)
    gen B   = vec_id % 10 in (5,6,8,9)    (appended)
    deleted = vec_id % 17 == 3            (tombstoned, compacted away)
    batch   = vec_id % probe_mod == 7     (the probe — never indexed;
                                           probe_mod % 10 == 0 keeps it
                                           disjoint from both gens)
          + 16 PLANTED twins: 8 gen-A + 8 gen-B surviving corpus
            vectors re-sent verbatim under fresh ids. An identical
            vector encodes to the identical (cell, sub_bucket) and its
            source's PQ codes are per-subspace optimal for it, so the
            source holds the MINIMAL possible ADC score and the
            smallest vec_id among any code-tied candidates — each
            twin's rank-1 must be its source, deterministically. A
            posting lost by the delete/compact cycle fails the cert.

The probe's (q_id, vec_id, rank, score) top-5 is gated against a
DuckDB from-scratch routed derivation over the post-delete corpus
(staged passes — mining_ops.staged_ann_lifecycle_sql — planes from the
PRE-delete ingest count) via the distributed checksum gate.

Outcomes land in TIER2_PROD.json under "ann_lifecycle" and in
SCALED_ORACLE.json under ann_lifecycle_probe/prodvec2m.

Usage:
  python scripts/ann_lifecycle.py               # full gate
  python scripts/ann_lifecycle.py --spark-only  # lifecycle + cert only
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CORPUS = os.path.join(REPO, "scaledata", "prodvec2m")
INDEX = os.path.join(REPO, "scaledata", "prodvec2m_lifecycle_index")
RESULT = os.path.join(REPO, "TIER2_PROD.json")
QNAME = "ann_lifecycle_probe"
SRC_DIR = "/root/testdata/sf0.1"
FACTOR = 1001  # 2,000 sf0.1 vectors -> 2,002,000
PLANT_BASE = 10_000_000_000  # far above every corpus vec_id
N_PLANT = 16


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spark-only", action="store_true")
    ap.add_argument(
        "--corpus", default=None,
        help="corpus dir holding embeddings.parquet (default: generate "
        f"the {FACTOR}x prodvec2m scale-up of {SRC_DIR})",
    )
    ap.add_argument(
        "--index", default=None,
        help="index dir (default: scaledata/prodvec2m_lifecycle_index)",
    )
    ap.add_argument(
        "--probe-mod", type=int, default=1000,
        help="probe batch = vec_id %% probe_mod == 7; must be a "
        "multiple of 10 so the batch is disjoint from both ingest "
        "generations (default 1000 -> ~2k queries at prod scale; the "
        "small-scale exact validation passes 10)",
    )
    ap.add_argument(
        "--exact", action="store_true",
        help="gate with the exact driver compare instead of the "
        "checksum (small corpora only — validates the staged oracle "
        "plan itself; tests/test_staged_oracle.py runs this)",
    )
    ap.add_argument(
        "--no-record", action="store_true",
        help="skip writing TIER2_PROD.json / SCALED_ORACLE.json",
    )
    ap.add_argument(
        "--keep-session", action="store_true",
        help="do not stop the SparkSession on exit (pytest owns it)",
    )
    args = ap.parse_args(argv)
    if args.probe_mod % 10 != 0:
        raise SystemExit(
            f"--probe-mod must be a multiple of 10 (got {args.probe_mod}): "
            "vec_id % probe_mod == 7 must imply vec_id % 10 == 7 so the "
            "probe batch is never indexed"
        )

    import scaled_oracle
    from dbt_datbricks_demo_spark.operators import similarity
    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _BATCH_K,
        _BATCH_MAX_PLANES,
        _BATCH_NPROBE,
        _BATCH_WIDTH,
        _IVFPQ_CELLS,
        _IVFPQ_COARSE,
        _PQ_BOOKS,
        _SQL_BALL_MAX_PLANES,
        staged_ann_lifecycle_sql,
    )
    from dbt_datbricks_demo_spark.session import get_spark
    from dbt_datbricks_demo_spark.testing.checksum import (
        checksum_compare,
        duckdb_checksum,
        spark_checksum,
    )

    if args.corpus:
        corpus_dir = os.path.abspath(args.corpus)
    else:
        from dbt_datbricks_demo_spark.testing.scaleup import scale_up_dir

        t0 = time.perf_counter()
        scale_up_dir(SRC_DIR, CORPUS, FACTOR, tables=("embeddings",))
        print(
            f"corpus: prodvec2m ready ({round(time.perf_counter() - t0, 1)}s)",
            flush=True,
        )
        corpus_dir = CORPUS
    index_dir = os.path.abspath(args.index) if args.index else INDEX

    emb_path = os.path.join(corpus_dir, "embeddings.parquet")
    if not os.path.exists(emb_path):
        raise SystemExit(f"{emb_path} missing")

    from pyspark.sql import functions as F

    spark = get_spark(
        app_name="ann-lifecycle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(emb_path)

    pre = emb.filter(F.col("vec_id") % 10 != 7)
    pre_count = pre.count()
    planes = similarity.adaptive_planes(
        pre_count, _IVFPQ_CELLS, _BATCH_WIDTH, _BATCH_MAX_PLANES
    )
    if planes > _SQL_BALL_MAX_PLANES:
        raise SystemExit(
            f"planes {planes} exceeds the oracle probe-ball domain "
            f"({_SQL_BALL_MAX_PLANES}) — raise the unnest bound in the "
            "oracle before growing the corpus"
        )
    radius = similarity.adaptive_subprobe_radius(planes)
    print(
        f"corpus: {pre_count} ingestable vectors, planes {planes}, "
        f"ball radius {radius}",
        flush=True,
    )

    # deterministic planted sources: the 8 lowest gen-A and 8 lowest
    # gen-B vec_ids that survive the tombstone slice
    survivors = F.col("vec_id") % 17 != 3
    gen_a_pred = F.col("vec_id") % 10 <= 4
    gen_b_pred = (F.col("vec_id") % 10).isin(5, 6, 8, 9)
    plant_a = [
        r["vec_id"]
        for r in emb.filter(survivors & gen_a_pred)
        .select("vec_id").orderBy("vec_id").limit(N_PLANT // 2).collect()
    ]
    plant_b = [
        r["vec_id"]
        for r in emb.filter(survivors & gen_b_pred)
        .select("vec_id").orderBy("vec_id").limit(N_PLANT // 2).collect()
    ]
    planted_ids = sorted(plant_a + plant_b)
    if len(planted_ids) != N_PLANT:
        raise SystemExit(f"could not select {N_PLANT} planted sources")

    walls: dict[str, float] = {}

    def timed(stage: str, fn):
        t0 = time.perf_counter()
        out = fn()
        walls[stage] = round(time.perf_counter() - t0, 1)
        print(f"  {stage}: {walls[stage]}s", flush=True)
        return out

    if not os.path.exists(os.path.join(index_dir, "_ANN_LIFECYCLE_DONE")):
        timed(
            "write_gen_a",
            lambda: similarity.write_batch_ivfpq_index(
                emb.filter(gen_a_pred), _IVFPQ_COARSE, _PQ_BOOKS, planes,
                index_dir,
            ),
        )
        timed(
            "append_gen_b",
            lambda: similarity.append_batch_ivfpq_index(
                emb.filter(gen_b_pred), _IVFPQ_COARSE, _PQ_BOOKS, planes,
                index_dir,
            ),
        )
        timed(
            "tombstone_delete",
            lambda: similarity.delete_from_batch_ivfpq_index(
                spark, index_dir, emb.filter(F.col("vec_id") % 17 == 3)
            ),
        )
        # compaction returns file counts; the rows it retired are
        # counted here, outside the timed stage
        rows_before = spark.read.parquet(index_dir).count()
        stats = timed(
            "compact",
            lambda: similarity.compact_batch_ivfpq_index(spark, index_dir),
        )
        stats.update(
            rows_before=rows_before,
            rows_after=spark.read.parquet(index_dir).count(),
        )
        if stats["rows_after"] >= stats["rows_before"]:
            raise SystemExit(f"compaction retired nothing: {stats}")
        with open(os.path.join(index_dir, "_ANN_LIFECYCLE_DONE"), "w") as fh:
            json.dump(stats, fh)
    else:
        with open(os.path.join(index_dir, "_ANN_LIFECYCLE_DONE")) as fh:
            stats = json.load(fh)
        print("  (index lifecycle already materialized — reusing)")

    batch = emb.filter(F.col("vec_id") % args.probe_mod == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    twins = emb.filter(F.col("vec_id").isin(planted_ids)).select(
        (F.col("vec_id") + F.lit(PLANT_BASE)).alias("q_id"),
        F.col("embedding").alias("q_vec"),
    )
    queries = batch.unionByName(twins)

    t0 = time.perf_counter()
    top = similarity.batch_ivfpq_index_topk(
        spark,
        index_dir,
        _IVFPQ_COARSE,
        _PQ_BOOKS,
        planes,
        queries,
        k=_BATCH_K,
        nprobe=_BATCH_NPROBE,
        probe_radius=radius,
    ).select("q_id", "vec_id", "rank", F.col("adc_score").alias("score"))
    top = top.localCheckpoint(eager=True)
    walls["probe"] = round(time.perf_counter() - t0, 1)
    print(f"  probe: {walls['probe']}s", flush=True)

    # planted cert: each twin's rank-1 must be its exact source — the
    # minimal-ADC / smallest-vec_id argument in the module docstring
    cert_hits = (
        top.filter(F.col("q_id") >= PLANT_BASE)
        .filter(F.col("rank") == 1)
        .filter(F.col("q_id") - PLANT_BASE == F.col("vec_id"))
        .count()
    )
    if cert_hits != N_PLANT:
        raise SystemExit(
            f"planted lifecycle cert failed: {cert_hits}/{N_PLANT} twins "
            f"ranked their source first post-compaction"
        )
    print(f"  planted cert: {cert_hits}/{N_PLANT} green", flush=True)

    t0 = time.perf_counter()
    scs = spark_checksum(top)
    walls["probe_checksum"] = round(time.perf_counter() - t0, 1)
    if "refused" in scs:
        raise SystemExit(
            f"probe result refused by the checksum gate ({scs['refused']})"
        )
    n_rows = scs["n"]
    print(f"  probe: {n_rows} result rows", flush=True)

    summary = {
        "geometry": {
            "planes": planes,
            "radius": radius,
            "nprobe": _BATCH_NPROBE,
            "cells": _IVFPQ_CELLS,
            "k": _BATCH_K,
        },
        "pre_delete_count": int(pre_count),
        "compaction": stats,
        "planted_ids": planted_ids,
        "probe_mod": args.probe_mod,
        "n_probe_rows": n_rows,
        "cert_planted": N_PLANT,
        "cert_hits": cert_hits,
        "walls_s": walls,
        "checked_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }

    if not args.spark_only:
        stages = staged_ann_lifecycle_sql(
            PLANT_BASE, planted_ids, args.probe_mod
        )
        sql_key = json.dumps(stages, sort_keys=True)
        pq_path, meta = scaled_oracle.derive_oracle_staged_standalone(
            QNAME, corpus_dir, sql_key, stages
        )
        t0 = time.perf_counter()
        if args.exact:
            import pandas as pd
            from oracle_harness import compare

            gate = "exact"
            problems = compare(
                QNAME, top.toPandas(), pd.read_parquet(pq_path)
            )
        else:
            gate = "checksum"
            con = scaled_oracle._connect_spill_capped()
            ocs = duckdb_checksum(
                con,
                "select * from read_parquet("
                f"'{scaled_oracle._sq(pq_path)}')",
            )
            con.close()
            problems = checksum_compare(scs, ocs)
        outcome = {
            "match": not problems,
            "rows": n_rows,
            "gate": gate,
            "oracle_key": meta["key"],
            "oracle_derive_s": meta["derive_s"],
            "cert": f"{cert_hits}/{N_PLANT}",
            "compare_s": round(time.perf_counter() - t0, 1),
            "checked_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
        }
        if problems:
            outcome["problems"] = problems[:5]
        if not args.no_record:
            scaled_oracle.record(QNAME, corpus_dir, outcome)
        summary["oracle"] = outcome
        if problems:
            print(f"FAIL ann lifecycle probe vs oracle: {problems}")
        else:
            print(
                f"OK[{gate}] ann lifecycle probe @ "
                f"{os.path.basename(corpus_dir)} ({n_rows} rows, "
                f"oracle {meta['derive_s']}s)"
            )

    if not args.no_record:
        results = {}
        if os.path.exists(RESULT):
            with open(RESULT) as fh:
                results = json.load(fh)
        results["ann_lifecycle"] = summary
        with open(RESULT, "w") as fh:
            json.dump(results, fh, indent=1)
    if not args.keep_session:
        spark.stop()
    if not args.spark_only and summary.get("oracle", {}).get("match") is False:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
