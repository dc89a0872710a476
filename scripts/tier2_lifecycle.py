"""Standing-index LIFECYCLE at the production corpus (round-10 verdict
item 5).

scripts/tier2_production.py proved the tier-2 (96-hash, 8x12) geometry
FIRES at build time on a real 2,005,000-document corpus. This script
runs the index lifecycle the graded minhash_index_maintenance query
exercises at sf scales — build generation A, append generation B,
tombstone-delete a slice, compact, probe — on that SAME prod2m corpus
at the SAME production geometry, every write under the writer lock
(operators/locks.py; the lock is taken inside write/delete/compact):

    gen A   = doc_id % 10 <= 4            (written, mode='overwrite')
    gen B   = doc_id % 10 in (5,6,8,9)    (appended)
    deleted = doc_id % 17 == 3            (tombstoned, then compacted away)
    batch   = doc_id % 10 == 7            (the probe — never indexed)
          + 16 PLANTED twins: 8 gen-A + 8 gen-B corpus docs re-sent
            verbatim under fresh ids. Identical text ⇒ identical
            signature ⇒ a twin collides in EVERY band, so each planted
            id must appear paired with its source — a posting lost by
            the delete/compact cycle fails the cert deterministically.

The probe's (batch_id, corpus_id) pairs are gated against a DuckDB
from-scratch derivation over the post-delete corpus (staged passes,
scripts/scaled_oracle machinery) via the distributed checksum gate
(testing/checksum.py — 42M-pair results never ride to the driver).

Outcomes land in TIER2_PROD.json under "lifecycle" and in
SCALED_ORACLE.json under minhash_lifecycle_probe/prod2m.

Usage:
  python scripts/tier2_lifecycle.py               # full gate
  python scripts/tier2_lifecycle.py --spark-only  # lifecycle + cert only
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

CORPUS = os.path.join(REPO, "scaledata", "prod2m")
INDEX = os.path.join(REPO, "scaledata", "prod2m_lifecycle_index")
RESULT = os.path.join(REPO, "TIER2_PROD.json")
QNAME = "minhash_lifecycle_probe"
PLANT_BASE = 10_000_000_000  # far above every corpus doc_id
N_PLANT = 16


def _bands_sql(hashed_cte: str, num_hashes: int, bands: int) -> str:
    """(doc_id, band_key) rows at a FIXED geometry — the md5('-'-joined
    slice) keys operators.dedup.lsh_band_keys emits, generalized from
    queries/advanced_ops._sql_bands's 8x2 to the production 96x8."""
    from dbt_datbricks_demo_spark.queries.llm_ops import _sql_minhash_cols

    rpb = num_hashes // bands
    sigs = (
        f"select doc_id, {', '.join(_sql_minhash_cols(num_hashes))} "
        f"from {hashed_cte}"
    )
    blocks = []
    for b in range(bands):
        cols = ", ".join(f"h{b * rpb + j}" for j in range(rpb))
        blocks.append(
            f"select doc_id, md5(concat_ws('-', '{b}', {cols})) "
            f"as band_key from s"
        )
    return f"with s as ({sigs}) " + " union all ".join(blocks)


def _staged_probe_oracle(planted_ids: list[int], nh: int, nb: int):
    """Bounded DuckDB passes for the from-scratch probe derivation:
    shingle-hash both sides once, band them at the production geometry,
    then the distinct band-collision pairs. The planted twins are
    re-sent corpus rows under fresh ids (doc_id + PLANT_BASE), mirrored
    here as literals so both engines plant identically."""
    from dbt_datbricks_demo_spark.queries.llm_ops import _SQL_SHINGLE_HASHES

    ids = ", ".join(str(i) for i in planted_ids)
    stages = [
        (
            "lc_hb",
            f"""
            with batch as (
                select doc_id, text from documents where doc_id % 10 = 7
                union all
                select doc_id + {PLANT_BASE} as doc_id, text
                from documents where doc_id in ({ids})
            )
            select doc_id, {_SQL_SHINGLE_HASHES} as hs from batch
            """,
        ),
        (
            "lc_hc",
            f"""
            select doc_id, {_SQL_SHINGLE_HASHES} as hs from documents
            where doc_id % 10 <> 7 and doc_id % 17 <> 3
            """,
        ),
        ("lc_bb", _bands_sql("lc_hb", nh, nb)),
        ("lc_bc", _bands_sql("lc_hc", nh, nb)),
        (
            "final",
            """
            select distinct b.doc_id as batch_id, c.doc_id as corpus_id
            from lc_bb b join lc_bc c using (band_key)
            """,
        ),
    ]
    return stages


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spark-only", action="store_true")
    ap.add_argument(
        "--corpus", default=CORPUS,
        help="corpus dir holding documents.parquet (default: prod2m)",
    )
    ap.add_argument(
        "--index", default=None,
        help="index dir (default: <corpus sibling> prod2m_lifecycle_index)",
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
        help="do not stop the SparkSession on exit (get_spark's "
        "getOrCreate may have returned a session the CALLER owns — "
        "pytest's session-scoped fixture invokes main() this way; "
        "stopping it mid-suite poisons every later Spark test)",
    )
    args = ap.parse_args(argv)
    corpus_dir = os.path.abspath(args.corpus)
    index_dir = os.path.abspath(args.index) if args.index else INDEX

    import scaled_oracle
    from dbt_datbricks_demo_spark.operators import dedup
    from dbt_datbricks_demo_spark.session import get_spark
    from dbt_datbricks_demo_spark.testing.checksum import (
        checksum_compare,
        duckdb_checksum,
        spark_checksum,
    )

    if not os.path.exists(os.path.join(corpus_dir, "documents.parquet")):
        raise SystemExit(
            f"{corpus_dir} missing — run scripts/tier2_production.py first"
        )

    nh, nb, rpb = dedup.ADAPTIVE_GEOMETRY_TOP
    if nh // nb != rpb:
        raise SystemExit(f"inconsistent production geometry {nh},{nb},{rpb}")

    from pyspark.sql import functions as F

    spark = get_spark(
        app_name="tier2-lifecycle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))

    # deterministic planted sources: the 8 lowest gen-A and 8 lowest
    # gen-B doc_ids that survive the tombstone slice
    survivors = F.col("doc_id") % 17 != 3
    gen_a_pred = F.col("doc_id") % 10 <= 4
    gen_b_pred = (F.col("doc_id") % 10).isin(5, 6, 8, 9)
    plant_a = [
        r["doc_id"]
        for r in docs.filter(survivors & gen_a_pred)
        .select("doc_id").orderBy("doc_id").limit(N_PLANT // 2).collect()
    ]
    plant_b = [
        r["doc_id"]
        for r in docs.filter(survivors & gen_b_pred)
        .select("doc_id").orderBy("doc_id").limit(N_PLANT // 2).collect()
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

    kw = dict(num_hashes=nh, bands=nb)
    if not os.path.exists(os.path.join(index_dir, "_TIER2_LIFECYCLE_DONE")):
        timed(
            "write_gen_a",
            lambda: dedup.write_minhash_index(
                docs.filter(gen_a_pred), index_dir, mode="overwrite", **kw
            ),
        )
        timed(
            "append_gen_b",
            lambda: dedup.write_minhash_index(
                docs.filter(gen_b_pred), index_dir, mode="append", **kw
            ),
        )
        timed(
            "tombstone_delete",
            lambda: dedup.delete_from_minhash_index(
                spark, index_dir, docs.filter(F.col("doc_id") % 17 == 3)
            ),
        )
        # compaction returns file counts; the rows it retired are
        # counted here, outside the timed stage
        rows_before = spark.read.parquet(index_dir).count()
        stats = timed(
            "compact", lambda: dedup.compact_minhash_index(spark, index_dir)
        )
        stats.update(
            rows_before=rows_before,
            rows_after=spark.read.parquet(index_dir).count(),
        )
        if stats["rows_after"] >= stats["rows_before"]:
            raise SystemExit(f"compaction retired nothing: {stats}")
        with open(os.path.join(index_dir, "_TIER2_LIFECYCLE_DONE"), "w") as fh:
            json.dump(stats, fh)
    else:
        with open(os.path.join(index_dir, "_TIER2_LIFECYCLE_DONE")) as fh:
            stats = json.load(fh)
        print("  (index lifecycle already materialized — reusing)")

    batch = docs.filter(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    twins = (
        docs.filter(F.col("doc_id").isin(planted_ids))
        .select(
            (F.col("doc_id") + F.lit(PLANT_BASE)).alias("doc_id"), "text"
        )
    )
    probe = batch.unionByName(twins)
    pairs = dedup.index_candidate_pairs(spark, index_dir, probe, **kw)

    t0 = time.perf_counter()
    scs = spark_checksum(pairs)
    walls["probe_checksum"] = round(time.perf_counter() - t0, 1)
    if "refused" in scs:
        # the probe result drifted outside the checksum contract
        # (schema change / non-scalar column) — fail loudly with the
        # reason instead of a KeyError crash (round-11 advice); at
        # this corpus scale a driver-side exact fallback is not an
        # affordable silent substitute
        raise SystemExit(
            f"probe result refused by the checksum gate "
            f"({scs['refused']}); fix the probe schema or gate this "
            f"query via the exact compare at a smaller scale"
        )
    n_pairs = scs["n"]
    print(f"  probe: {n_pairs} candidate pairs ({walls['probe_checksum']}s)")

    # planted cert: every twin must pair with its exact source — a
    # tombstone leak (deleted postings still matched) is caught by the
    # oracle gate; a LOST posting (source never matched) is caught here
    cert_hits = (
        pairs.filter(F.col("batch_id") >= PLANT_BASE)
        .filter(F.col("batch_id") - PLANT_BASE == F.col("corpus_id"))
        .select("batch_id")
        .distinct()
        .count()
    )
    if cert_hits != N_PLANT:
        raise SystemExit(
            f"planted lifecycle cert failed: {cert_hits}/{N_PLANT} twins "
            f"matched their source post-compaction"
        )
    print(f"  planted cert: {cert_hits}/{N_PLANT} green")

    summary = {
        "geometry": [nh, nb, rpb],
        "compaction": stats,
        "planted_ids": planted_ids,
        "n_probe_pairs": n_pairs,
        "cert_planted": N_PLANT,
        "cert_hits": cert_hits,
        "walls_s": walls,
        "checked_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }

    if not args.spark_only:
        stages = _staged_probe_oracle(planted_ids, nh, nb)
        # cache key = every stage's SQL + planted ids (embedded in the
        # stage SQL) + dir stamp, via the staged machinery's own keys
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
                QNAME, pairs.toPandas(), pd.read_parquet(pq_path)
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
            "rows": n_pairs,
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
            print(f"FAIL lifecycle probe vs oracle: {problems}")
        else:
            print(
                f"OK[{gate}] lifecycle probe @ "
                f"{os.path.basename(corpus_dir)} ({n_pairs} pairs, "
                f"oracle {meta['derive_s']}s)"
            )

    if not args.no_record:
        results = {}
        if os.path.exists(RESULT):
            with open(RESULT) as fh:
                results = json.load(fh)
        results["lifecycle"] = summary
        with open(RESULT, "w") as fh:
            json.dump(results, fh, indent=1)
    if not args.keep_session:
        spark.stop()
    if not args.spark_only and summary.get("oracle", {}).get("match") is False:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
