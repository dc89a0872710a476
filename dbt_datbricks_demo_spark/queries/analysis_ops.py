"""Round-4 session-4 additions: dataset analysis / statistics surface.

The operations an analytics engine runs *around* the pipeline — data
profiling (per-column null/distinct/extremes, the `ANALYZE`/summary
companion to SURVEY §2 S9 statistics collection), trend estimation
(closed-form OLS over exact aggregate sums), deterministic weighted
sampling (the importance-sampling complement of the mixture/stratified
samplers in operators.sampling), robust winsorized statistics, a
chi-square independence test over corpus metadata, and containment
Jaccard on the LSH candidate pairs (catches subset-duplicates that the
symmetric Jaccard of `minhash_lsh_jaccard` under-scores).

Determinism contract (module convention, see queries/advanced_ops.py):
counts and sums are exact integers/decimals; every order-dependent
float is micro-rounded (`floor(x*1e6 + 0.5)`) per row BEFORE any
cross-row sum; the only raw doubles are single divisions /
multiplications of already-exact operands, which are IEEE-identical on
every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.operators import dedup
from dbt_datbricks_demo_spark.queries.advanced_ops import _SQL_PAIRS
from dbt_datbricks_demo_spark.queries.inventory import (
    _register,
    _spread,
    _sql_stddev_exact,
    _t,
)
from dbt_datbricks_demo_spark.queries.llm_ops import (
    _SQL_AMH_RESULT_COLS,
    _SQL_SHINGLE_HASHES,
    _amh_geom_cert,
    _sql_amh_prefix,
    _sql_minhash_cols,
)


def _micro(col) -> F.Column:
    """Engine-portable half-up micro-unit rounding (module convention)."""
    return F.floor(col * 1000000 + F.lit(0.5)).cast("bigint")


_MICRO = "cast(floor(({x}) * 1000000 + 0.5) as bigint)"


# ---------------------------------------------------------------------------
# Column-level data profiling (the summary-statistics companion of S9
# ANALYZE; reference collects table stats via Databricks ANALYZE TABLE —
# notebooks/databricks_data_flow.sql — this is the in-engine report form)
# ---------------------------------------------------------------------------
_PROFILE_NUM = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_STR = ("l_returnflag", "l_linestatus")


@_register(
    "table_profile_report",
    "per-column data profile of lineitem (rows / nulls / exact distinct "
    "/ min / max / exact-decimal mean): one expand-free pass for the "
    "non-distinct stats plus one SINGLE-distinct aggregation per "
    "column (round 7 — six countDistinct in one groupBy plan the "
    "Expand shape, duplicating every row 6x; at 10x data that read a "
    "bimodal 3-13s, while per-column single-distinct aggs are "
    "column-pruned two-level hash aggs with no expand), one-row "
    "results broadcast-joined and unpivoted via stack()",
    f"""
    {' union all '.join(
        f'''select '{c}' as col_name,
               cast(count(*) as bigint) as n_rows,
               cast(count(*) - count({c}) as bigint) as n_null,
               cast(count(distinct {c}) as bigint) as n_distinct,
               cast(min({c}) as double) as min_val,
               cast(max({c}) as double) as max_val,
               {_MICRO.format(
                   x=f'cast(sum(cast({c} as decimal(18,2))) as double) / count({c})'
               )} as mean_micro
           from lineitem''' for c in _PROFILE_NUM
    )}
    union all
    {' union all '.join(
        f'''select '{c}' as col_name,
               cast(count(*) as bigint) as n_rows,
               cast(count(*) - count({c}) as bigint) as n_null,
               cast(count(distinct {c}) as bigint) as n_distinct,
               cast(null as double) as min_val,
               cast(null as double) as max_val,
               cast(null as bigint) as mean_micro
           from lineitem''' for c in _PROFILE_STR
    )}
    order by col_name
    """,
)
def table_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _spread(_t(spark, sf_dir, "lineitem"))
    aggs = []
    for c in _PROFILE_NUM:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            _micro(
                F.sum(F.col(c).cast("decimal(18,2)")).cast("double") / F.count(c)
            ).alias(f"{c}__mean"),
        ]
    for c in _PROFILE_STR:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
        ]
    one = li.agg(*aggs)
    # per-column exact distincts in ONE pass (optimization round 12):
    # melt every row to (col_name, double_val, string_val) — separate
    # numeric/string value slots — and run a two-level hash aggregate:
    # groupBy(col, value) collapses map-side to the per-partition
    # distinct sets (the explode never reaches the exchange), then a
    # 6-group count. The previous shape ran one SEPARATE
    # single-distinct aggregation per column (6 extra scans of lineitem
    # + 6 _spread exchanges + 6 crossJoin-broadcast jobs — measured
    # 2.98 s; this form measures ~1.3 s). The multi-distinct
    # one-aggregation spelling stays banned: it plans the Expand shape
    # (row count × columns through the exchange, round-7 measurement).
    # NOTE: stack() coerces all numeric branches to one common type, so
    # _PROFILE_NUM columns must stay double-typed (they are today); a
    # future bigint column with values beyond 2^53 would silently merge
    # distinct values in the melt and undercount n_distinct — melt such
    # a column through a separate bigint-typed slot instead.
    melt_args = ", ".join(
        [f"'{c}', {c}, cast(null as string)" for c in _PROFILE_NUM]
        + [f"'{c}', cast(null as double), {c}" for c in _PROFILE_STR]
    )
    n_cols = len(_PROFILE_NUM) + len(_PROFILE_STR)
    melted = li.select(
        F.expr(f"stack({n_cols}, {melt_args}) as (cn, dv, sv)")
    ).where(F.col("dv").isNotNull() | F.col("sv").isNotNull())
    nd = (
        melted.groupBy("cn", "dv", "sv")
        .agg(F.lit(1))
        .groupBy("cn")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    )
    rows = []
    for c in _PROFILE_NUM:
        rows.append(
            f"'{c}', {c}__rows, {c}__null, {c}__min, {c}__max, {c}__mean"
        )
    for c in _PROFILE_STR:
        rows.append(
            f"'{c}', {c}__rows, {c}__null,"
            f" cast(null as double), cast(null as double), cast(null as bigint)"
        )
    stacked = one.select(
        F.expr(
            f"stack({len(rows)}, {', '.join(rows)}) as "
            "(col_name, n_rows, n_null, min_val, max_val, mean_micro)"
        )
    )
    # LEFT join + coalesce (round-12 advice): an all-NULL profiled
    # column has no surviving melted row, and an inner join would drop
    # it from the report while the SQL oracle emits it with
    # n_distinct = 0.
    return (
        stacked.join(
            F.broadcast(nd.withColumnRenamed("cn", "col_name")),
            "col_name",
            "left",
        )
        .select(
            "col_name",
            "n_rows",
            "n_null",
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("bigint")).alias(
                "n_distinct"
            ),
            "min_val",
            "max_val",
            "mean_micro",
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# Trend estimation: closed-form per-group OLS from exact decimal sums
# ---------------------------------------------------------------------------
@_register(
    "regression_trend_report",
    "per-nation monthly-revenue OLS trend (slope/intercept) from "
    "closed-form normal equations over EXACT decimal sums (n·Σxy − ΣxΣy "
    "etc.) — the engines' native regr_slope merges order-dependent "
    "partial states; decimal sums are order-free, so one double "
    "division at the end is engine-identical. Final quantization is "
    "PURE IEEE arithmetic (floor(x·10^k + 0.5)/10^k, the checksum "
    "gate's trick), not round(x, k): Spark's round expands the exact "
    "binary value through BigDecimal while DuckDB multiplies by 10^k "
    "and nearbyints, and at x100 the intercept's |x|≈2e9 puts x·1e6 "
    "≈2e15 against the 2^53 exactness ceiling — measured 1e-6 flips "
    "on 5 of 25 nations. The intercept quantum is 1e-3 (its x·10^k "
    "stays far below 2^53 at any plausible revenue scale); slope "
    "keeps 1e-6. 3-table join: nation broadcast, orders⋈customer "
    "shuffle on custkey",
    """
    with monthly as (
        select n.n_name,
               (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1
                   as month_idx,
               cast(sum(cast(o.o_totalprice as decimal(18,2))) as decimal(18,2))
                   as rev
        from orders o
        join customer c on c.c_custkey = o.o_custkey
        join nation n on n.n_nationkey = c.c_nationkey
        group by 1, 2
    ),
    fit as (
        select n_name,
               cast(count(*) as decimal(6,0)) as nm,
               cast(sum(cast(month_idx as decimal(10,0))) as decimal(10,0)) as sx,
               cast(sum(rev) as decimal(24,2)) as sy,
               cast(sum(cast(month_idx as decimal(10,0))
                        * cast(month_idx as decimal(10,0))) as decimal(14,0))
                   as sxx,
               cast(sum(cast(month_idx as decimal(10,0)) * rev) as decimal(28,2))
                   as sxy
        from monthly group by n_name
    ),
    q as (
        select n_name, nm, sx, sy,
               floor(cast(nm * sxy - sx * sy as double)
                     / cast(nm * sxx - sx * sx as double) * 1000000 + 0.5)
                   / 1000000 as slope
        from fit
    )
    select n_name, cast(nm as bigint) as n_months,
           slope,
           floor((cast(sy as double) - slope * cast(sx as double))
                 / cast(nm as double) * 1000 + 0.5) / 1000 as intercept,
           cast(sy as double) as total_rev
    from q
    order by n_name
    """,
)
def regression_trend_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _spread(_t(spark, sf_dir, "orders"))
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1992)) * 12
                + F.month("o_orderdate")
                - F.lit(1)
            ).alias("month_idx"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    xd = F.col("month_idx").cast("decimal(10,0)")
    fit = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("decimal(6,0)").alias("nm"),
        F.sum(xd).cast("decimal(10,0)").alias("sx"),
        F.sum("rev").cast("decimal(24,2)").alias("sy"),
        F.sum(xd * xd).cast("decimal(14,0)").alias("sxx"),
        F.sum(xd * F.col("rev")).cast("decimal(28,2)").alias("sxy"),
    )
    num = (F.col("nm") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("nm") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # IEEE-arithmetic quantization (not F.round — see the oracle note):
    # identical bit-for-bit across engines at any magnitude
    slope = F.floor(num / den * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1e6)
    return (
        fit.select(
            "n_name",
            F.col("nm").cast("bigint").alias("n_months"),
            slope.alias("slope"),
            (
                F.floor(
                    (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                    / F.col("nm").cast("double")
                    * F.lit(1000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000.0)
            ).alias("intercept"),
            F.col("sy").cast("double").alias("total_rev"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (importance sampling by doc length)
# ---------------------------------------------------------------------------
@_register(
    "weighted_sample_report",
    "deterministic weighted rejection sampling: admit doc iff "
    "md5-uniform(doc_id) < n_chars / max_chars — weight-proportional, "
    "engine/partitioning-stable (same salt convention as dataset_split);"
    " the corpus-max scalar attaches as a one-row broadcast; per-lang "
    "admission stats",
    """
    with mx as (
        select cast(max(n_chars) as double) as max_chars from documents
    ),
    assigned as (
        select d.lang, d.n_chars,
            case when ('0x' || substr(md5('wsample' || cast(d.doc_id as varchar)),
                                       1, 8))::ubigint % 10000
                      < cast(floor(d.n_chars / mx.max_chars * 10000) as bigint)
                 then 1 else 0 end as admitted
        from documents d, mx
    )
    select lang,
           cast(count(*) as bigint) as n_docs,
           cast(sum(admitted) as bigint) as n_sampled,
           cast(sum(admitted * n_chars) as bigint) as sampled_chars,
           cast(sum(n_chars) as bigint) as total_chars
    from assigned
    group by lang
    order by lang
    """,
)
def weighted_sample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    mx = F.broadcast(
        docs.agg(F.max("n_chars").cast("double").alias("max_chars"))
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wsample"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    threshold = F.floor(F.col("n_chars") / F.col("max_chars") * 10000).cast(
        "bigint"
    )
    assigned = docs.crossJoin(mx).select(
        "lang",
        "n_chars",
        F.when(bucket < threshold, F.lit(1)).otherwise(F.lit(0)).alias("admitted"),
    )
    return (
        assigned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("admitted").alias("n_sampled"),
            F.sum(F.col("admitted") * F.col("n_chars")).alias("sampled_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Winsorized robust statistics (p05/p95 clamp before the mean)
# ---------------------------------------------------------------------------
@_register(
    "winsorized_stats_report",
    "per-lang winsorized mean of n_chars: exact p05/p95 (Spark "
    "percentile() ≡ DuckDB quantile_cont linear interpolation) computed "
    "in a tiny per-lang aggregate, broadcast-joined back, values "
    "clamped then micro-rounded per row before the exact integer sum — "
    "two scans (percentile pass + clamp pass), the scalable shape vs a "
    "per-lang sort window",
    f"""
    with pct as (
        select lang,
               quantile_cont(n_chars, 0.05) as p05,
               quantile_cont(n_chars, 0.95) as p95
        from documents group by lang
    ),
    clamped as (
        select d.lang, p.p05, p.p95,
               {_MICRO.format(
                   x='least(greatest(cast(d.n_chars as double), p.p05), p.p95)'
               )} as w_micro
        from documents d join pct p on p.lang = d.lang
    )
    select lang,
           cast(count(*) as bigint) as n_docs,
           round(any_value(p05), 6) as p05,
           round(any_value(p95), 6) as p95,
           round(cast(sum(w_micro) as double) / count(*) / 1e6, 6)
               as winsorized_mean
    from clamped
    group by lang
    order by lang
    """,
)
def winsorized_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    pct = F.broadcast(
        docs.groupBy("lang").agg(
            F.expr("percentile(n_chars, 0.05)").alias("p05"),
            F.expr("percentile(n_chars, 0.95)").alias("p95"),
        )
    )
    clamped = docs.join(pct, "lang").select(
        "lang",
        "p05",
        "p95",
        _micro(
            F.least(
                F.greatest(F.col("n_chars").cast("double"), F.col("p05")),
                F.col("p95"),
            )
        ).alias("w_micro"),
    )
    return (
        clamped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.any_value("p05"), 6).alias("p05"),
            F.round(F.any_value("p95"), 6).alias("p95"),
            F.round(
                F.sum("w_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("winsorized_mean"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Chi-square independence test over corpus metadata
# ---------------------------------------------------------------------------
@_register(
    "chi_square_report",
    "chi-square independence of lang × source: observed counts in one "
    "corpus aggregation; row/col totals re-aggregated from the TINY "
    "contingency table (never a second corpus scan) and attached by "
    "broadcast; per-cell (obs−exp)²/exp micro-rounded before the final "
    "exact sum",
    f"""
    with obs as (
        select lang, source, cast(count(*) as bigint) as o
        from documents group by lang, source
    ),
    rt as (select lang, cast(sum(o) as bigint) as row_tot from obs group by lang),
    ct as (select source, cast(sum(o) as bigint) as col_tot
           from obs group by source),
    n as (select cast(sum(o) as double) as n_total,
                 count(distinct lang) as n_lang,
                 count(distinct source) as n_source
          from obs),
    cells as (
        select o.lang, o.source, n.n_lang, n.n_source,
               {_MICRO.format(
                   x='power(o.o - rt.row_tot * ct.col_tot / n.n_total, 2)'
                     ' / (rt.row_tot * ct.col_tot / n.n_total)'
               )} as term_micro
        from obs o
        join rt on rt.lang = o.lang
        join ct on ct.source = o.source
        cross join n
    )
    select cast(count(*) as bigint) as n_cells,
           cast((any_value(n_lang) - 1) * (any_value(n_source) - 1)
                as bigint) as dof,
           round(cast(sum(term_micro) as double) / 1e6, 6) as chi_square
    from cells
    """,
)
def chi_square_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    obs = obs.localCheckpoint(eager=True)  # tiny; read by 3 aggregates below
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(
        F.sum("o").cast("double").alias("n_total"),
        F.countDistinct("lang").alias("n_lang"),
        F.countDistinct("source").alias("n_source"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n_total")
    cells = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            _micro(F.pow(F.col("o") - exp, 2) / exp).alias("term_micro"),
            "n_lang",
            "n_source",
        )
    )
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        ((F.any_value("n_lang") - 1) * (F.any_value("n_source") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round(F.sum("term_micro").cast("double") / 1e6, 6).alias("chi_square"),
    )


# ---------------------------------------------------------------------------
# Containment Jaccard on the LSH candidate pairs (subset-duplicate probe)
# ---------------------------------------------------------------------------
@_register(
    "containment_dedup_report",
    "containment Jaccard |A∩B| / min(|A|,|B|) on the MinHash-LSH "
    "candidate pairs — catches subset-duplicates (a doc embedded inside "
    "a longer one) that symmetric Jaccard under-scores; shares the "
    "banded candidate generation (round 8: the RECALL-PRESERVING "
    "adaptive two-axis geometry, like minhash_lsh_jaccard — its 30x/10x "
    "weak-scaling read 4.5 under the fixed geometry, the same banded "
    "false-candidate mechanism) and staged-hash-array verification "
    "with minhash_lsh_jaccard (operators.dedup.jaccard_pairs_from_hashes)",
    f"""
    with {_sql_amh_prefix()},
    sh as (select doc_id, unnest(hs) as sh from hashed),
    sizes as (select doc_id, count(*) as set_size from sh group by doc_id),
    inter as (
        select p.id_a, p.id_b, count(*) as n_common
        from pairs p
        join sh a on a.doc_id = p.id_a
        join sh b on b.doc_id = p.id_b and b.sh = a.sh
        group by p.id_a, p.id_b
    )
    select i.id_a, i.id_b, i.n_common,
           sa.set_size as size_a, sb.set_size as size_b,
           i.n_common * 1.0 / least(sa.set_size, sb.set_size) as containment,
           {_SQL_AMH_RESULT_COLS}
    from inter i
    join sizes sa on sa.doc_id = i.id_a
    join sizes sb on sb.doc_id = i.id_b, geo g, cert
    order by containment desc, i.id_a, i.id_b
    """,
)
def containment_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.queries.inventory import _t_rowcount

    n = _t_rowcount(sf_dir, "documents")
    nh, nb, _r = dedup.adaptive_minhash_geometry(n)
    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_candidate_pairs(docs, "doc_id", num_hashes=nh, bands=nb)
    verified, _ = dedup.jaccard_pairs(docs, pairs, "doc_id")
    return (
        verified.select(
            "id_a",
            "id_b",
            "n_common",
            "size_a",
            "size_b",
            (
                F.col("n_common")
                * 1.0
                / F.least(F.col("size_a"), F.col("size_b"))
            ).alias("containment"),
        )
        .crossJoin(F.broadcast(_amh_geom_cert(docs, nh, nb)))
        .orderBy(F.col("containment").desc(), "id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Triangle counting on the similarity graph (third graph primitive after
# PageRank and connected components)
# ---------------------------------------------------------------------------
@_register(
    "triangle_count_report",
    "triangle count over the MinHash-LSH candidate-pair graph: edges are "
    "id-oriented (id_a < id_b) so each triangle is enumerated exactly "
    "once by a two-hop join + closing-edge semi-join — the standard "
    "oriented-wedge formulation that bounds the join fan-out (degree-"
    "ordering is the production refinement); O(edges) relations only, "
    "never the corpus",
    f"""
    with {_SQL_PAIRS},
    tri as (
        select p1.id_a as a, p1.id_b as b, p2.id_b as c
        from pairs p1
        join pairs p2 on p2.id_a = p1.id_b
        join pairs p3 on p3.id_a = p1.id_a and p3.id_b = p2.id_b
    ),
    verts as (
        select a as v from tri
        union
        select b from tri
        union
        select c from tri
    )
    select cast((select count(*) from pairs) as bigint) as n_edges,
           cast((select count(*) from tri) as bigint) as n_triangles,
           cast((select count(*) from verts) as bigint) as n_tri_nodes
    """,
)
def triangle_count_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_candidate_pairs(
        docs, "doc_id", num_hashes=8, bands=2
    ).localCheckpoint(eager=True)
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    wedges = p1.join(p2, "b")
    tri = wedges.join(p3, ["a", "c"], "left_semi").localCheckpoint(eager=True)
    verts = (
        tri.select(F.col("a").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
        .distinct()
    )
    n_edges = pairs.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = tri.groupBy().agg(F.count(F.lit(1)).alias("n_triangles"))
    n_verts = verts.groupBy().agg(F.count(F.lit(1)).alias("n_tri_nodes"))
    return (
        n_edges.crossJoin(F.broadcast(n_tri))
        .crossJoin(F.broadcast(n_verts))
        .select(
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.col("n_tri_nodes").cast("bigint").alias("n_tri_nodes"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on the daily event-value series
# ---------------------------------------------------------------------------
@_register(
    "cusum_changepoint",
    "CUSUM changepoint detection: daily event-value totals (micro-int "
    "per row before summing), cumulative deviation from the global mean "
    "kept INTEGER by scaling by n (S_t = n*prefix_t - t*total — no "
    "mean division until display), argmax |S_t| is the changepoint. "
    "The day series is tiny after the first aggregation; the window "
    "runs over days, not events",
    """
    with daily as (
        select date_trunc('day', ts) as d,
               cast(sum(cast(floor(value * 1000000 + 0.5) as bigint))
                    as bigint) as x
        from events group by 1
    ),
    tot as (
        select cast(count(*) as bigint) as n, cast(sum(x) as bigint) as sx
        from daily
    ),
    series as (
        select d,
               cast(sum(x) over (order by d) as bigint) as cx,
               cast(row_number() over (order by d) as bigint) as t
        from daily
    ),
    scored as (
        select d, t, tot.n,
               abs(tot.n * cx - t * tot.sx) as s_abs
        from series, tot
    )
    select d as changepoint_day,
           cast(t as bigint) as day_index,
           cast(n as bigint) as n_days,
           round(cast(s_abs as double) / n / 1e6, 6) as max_abs_cusum
    from scored
    order by s_abs desc, d
    limit 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _spread(_t(spark, sf_dir, "events"))
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("d"),
            _micro(F.col("value")).alias("xm"),
        )
        .groupBy("d")
        .agg(F.sum("xm").cast("bigint").alias("x"))
    )
    daily = daily.localCheckpoint(eager=True)  # tiny day table, read twice
    tot = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    series = daily.select(
        "d",
        F.sum("x").over(w).cast("bigint").alias("cx"),
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    )
    scored = series.crossJoin(tot).select(
        "d",
        "t",
        "n",
        F.abs(F.col("n") * F.col("cx") - F.col("t") * F.col("sx")).alias("s_abs"),
    )
    return (
        scored.orderBy(F.col("s_abs").desc(), "d")
        .limit(1)
        .select(
            F.col("d").alias("changepoint_day"),
            F.col("t").alias("day_index"),
            F.col("n").alias("n_days"),
            F.round(F.col("s_abs").cast("double") / F.col("n") / 1e6, 6).alias(
                "max_abs_cusum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Label propagation: semi-supervised labeling over the similarity graph
# ---------------------------------------------------------------------------
@_register(
    "label_propagation_eval",
    "semi-supervised label propagation over the MinHash-LSH candidate "
    "graph: 80% of documents keep their lang label (deterministic md5 "
    "split), hidden nodes take the MAJORITY lang of their seeded "
    "neighbors (ties: lexicographically smallest), and accuracy is "
    "measured in-engine against the held-out truth — one round, all "
    "relations O(edges), ranking via WindowGroupLimit",
    f"""
    with {_SQL_PAIRS},
    edges as (
        select id_a as src, id_b as dst from pairs
        union all
        select id_b as src, id_a as dst from pairs
    ),
    split as (
        select doc_id, lang,
               ('0x' || substr(md5('lp' || cast(doc_id as varchar)), 1, 8))::ubigint
                   % 10000 < 8000 as seeded
        from documents
    ),
    votes as (
        select e.src as node, s.lang, count(*) as cnt
        from edges e
        join split s on s.doc_id = e.dst and s.seeded
        group by 1, 2
    ),
    pred as (
        select node, lang as pred_lang from (
            select node, lang,
                   row_number() over (
                       partition by node order by cnt desc, lang
                   ) as rn
            from votes
        ) where rn = 1
    )
    select h.lang,
           cast(count(*) as bigint) as n_hidden,
           cast(count(p.pred_lang) as bigint) as n_predicted,
           cast(sum(case when p.pred_lang = h.lang then 1 else 0 end)
                as bigint) as n_correct
    from (select doc_id, lang from split where not seeded) h
    left join pred p on p.node = h.doc_id
    group by h.lang
    order by h.lang
    """,
)
def label_propagation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_candidate_pairs(
        docs, "doc_id", num_hashes=8, bands=2
    ).localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lp"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    split = docs.select("doc_id", "lang", (bucket < 8000).alias("seeded"))
    seeds = split.filter(F.col("seeded")).select(
        F.col("doc_id").alias("dst"), "lang"
    )
    votes = (
        edges.join(seeds, "dst")
        .groupBy(F.col("src").alias("node"), "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("lang"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("node").alias("doc_id"), F.col("lang").alias("pred_lang"))
    )
    hidden = split.filter(~F.col("seeded")).select("doc_id", "lang")
    return (
        hidden.join(pred, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_hidden"),
            F.count("pred_lang").alias("n_predicted"),
            F.sum(
                F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Video scene-cut detection plumbing (multimodal family)
# ---------------------------------------------------------------------------
@_register(
    "video_scene_report",
    "video scene-cut plumbing: payload windowed into 100-byte 'frames', "
    "md5-derived signature per frame, boundary where consecutive "
    "signatures jump >= 500 (the stub analog of a frame-difference shot "
    "detector) — Arrow mapInPandas batches, engine-portable signature "
    "math (operators.multimodal.video_scene_detect); per-source scene "
    "stats. PARITY INVARIANT: the Spark side slices UTF-8 BYTES of the "
    "payload while DuckDB's substr is CHARACTER-based (no blob substr "
    "exists) — the oracle matches only while the documents testdata is "
    "pure ASCII, which test_video_scene_oracle_ascii_invariant pins; "
    "multibyte corpora need a byte-frame oracle outside SQL",
    """
    with fr as (
        select doc_id, source,
               cast(i as bigint) as i,
               ('0x' || substr(md5(substr(text, cast(i*100+1 as int), 100)),
                               1, 4))::int % 1000 as sig
        from (
            select doc_id, source, text,
                   unnest(range(0, octet_length(encode(text)) // 100 + 1)) as i
            from documents
        )
    ),
    diffs as (
        select doc_id, source, i, sig,
               lag(sig) over (partition by doc_id order by i) as prev
        from fr
    ),
    per_doc as (
        select doc_id, any_value(source) as source,
               count(*) as n_frames,
               1 + sum(case when prev is not null and abs(sig - prev) >= 500
                            then 1 else 0 end) as n_scenes
        from diffs group by doc_id
    )
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(n_frames) as bigint) as n_frames,
           cast(sum(n_scenes) as bigint) as n_scenes,
           cast(max(n_scenes) as bigint) as max_scenes
    from per_doc
    group by source
    order by source
    """,
)
def video_scene_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators import multimodal

    docs = _spread(_t(spark, sf_dir, "documents"))
    scenes = multimodal.video_scene_detect(
        multimodal.attach_binary_payload(docs)
    )
    with_src = scenes.join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return (
        with_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_frames").cast("bigint").alias("n_frames"),
            F.sum("n_scenes").cast("bigint").alias("n_scenes"),
            F.max("n_scenes").cast("bigint").alias("max_scenes"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (event-stream traffic analysis)
# ---------------------------------------------------------------------------
@_register(
    "burstiness_report",
    "per-user inter-arrival burstiness: lag-window gaps in integer "
    "seconds (one shuffle on user_id), exact-decimal mean/stddev of the "
    "gaps (n·Σx²−(Σx)² over decimal sums — no order-dependent native "
    "stddev merge), top-25 burstiest users via TakeOrderedAndProject",
    f"""
    with gaps as (
        select user_id,
               (epoch_us(ts) - epoch_us(lag(ts) over (
                   partition by user_id order by ts, event_id
               ))) // 1000000 as gap
        from events
    ),
    per_user as (
        select user_id,
               cast(count(*) as bigint) as n_gaps,
               round(cast(sum(cast(gap as decimal(14,0))) as double)
                     / count(*), 2) as mean_gap,
               {{std}} as std_gap
        from gaps where gap is not null
        group by user_id
        having count(*) >= 5
    )
    select user_id, n_gaps, mean_gap, std_gap
    from per_user
    order by std_gap desc, user_id
    limit 25
    """.format(std=_sql_stddev_exact("gap", 0)),
)
def burstiness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.queries.inventory import _stddev_exact

    ev = _spread(_t(spark, sf_dir, "events"))
    # exact µs difference floored to whole seconds — DuckDB's epoch() is
    # fractional and Spark's unix_timestamp() truncates, so second-level
    # subtraction disagrees on sub-second components; µs math is integer
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) - unix_micros(cast(lag(ts) "
            "over (partition by user_id order by ts, event_id) as timestamp)))"
            " div 1000000"
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    n = F.count(F.lit(1))
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            n.cast("bigint").alias("n_gaps"),
            F.round(
                F.sum(F.col("gap").cast("decimal(14,0)")).cast("double") / n, 2
            ).alias("mean_gap"),
            _stddev_exact(F.col("gap"), n, scale=0).alias("std_gap"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    return per_user.orderBy(F.col("std_gap").desc(), "user_id").limit(25)


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (rows-only: no SQL-expressible zlib)
# ---------------------------------------------------------------------------
@_register(
    "compression_quality_report",
    "zlib compression-ratio quality signal per source (operators.text."
    "compression_ratio): highly compressible text is boilerplate — the "
    "Gopher/RefinedWeb heuristic family. Arrow mapInPandas, exact "
    "integer byte counts; rows-only (DuckDB has no zlib), regression-"
    "pinned by pytest laws instead of a SQL oracle",
    None,
)
def compression_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators import text as text_ops

    docs = _spread(_t(spark, sf_dir, "documents"))
    ratios = text_ops.compression_ratio(docs)
    with_src = ratios.join(docs.select("doc_id", "source"), "doc_id")
    return (
        with_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("raw_bytes").cast("bigint").alias("raw_bytes"),
            F.sum("compressed_bytes").cast("bigint").alias("compressed_bytes"),
            F.floor(F.sum("ratio_micro") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_ratio_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Forward as-of join: error -> next purchase recovery analysis
# ---------------------------------------------------------------------------
_RECOVERY_TOL_S = 86_400  # 1 day


@_register(
    "asof_forward_recovery",
    "forward as-of join (operators.asof.asof_join_forward — pandas "
    "merge_asof direction='forward'): for each error event, the same "
    "user's EARLIEST subsequent purchase within 1 day; union-marker "
    "window shape (one shuffle, one sort, never |L|x|R|); global "
    "recovery stats with integer-exact second gaps",
    f"""
    with err as (
        select user_id, event_id, ts from events where event_type = 'error'
    ),
    pur as (
        select distinct user_id, ts from events where event_type = 'purchase'
    ),
    m as (
        select e.user_id, e.event_id, e.ts,
               (select min(p.ts) from pur p
                where p.user_id = e.user_id and p.ts >= e.ts) as nxt
        from err e
    ),
    gaps as (
        select *,
               case when nxt is not null
                     and (epoch_us(nxt) - epoch_us(ts)) // 1000000
                         <= {_RECOVERY_TOL_S}
                    then (epoch_us(nxt) - epoch_us(ts)) // 1000000 end as gap_s
        from m
    )
    select cast(count(*) as bigint) as n_errors,
           cast(count(gap_s) as bigint) as n_recovered,
           cast(sum(gap_s) as bigint) as total_gap_seconds,
           cast(max(gap_s) as bigint) as max_gap_seconds
    from gaps
    """,
)
def asof_forward_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators.asof import asof_join_forward

    ev = _spread(_t(spark, sf_dir, "events"))
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    ).distinct()
    # tolerance is +1s wider than the report filter: the operator's
    # tolerance compares FRACTIONAL seconds while the report (and the
    # oracle) floor to whole seconds — floor(g) <= tol iff g < tol+1,
    # so the floored filter below must be the binding check, never the
    # operator's fractional one
    joined = asof_join_forward(
        err, pur, time_col="ts", by="user_id", right_cols=[],
        tolerance_seconds=_RECOVERY_TOL_S + 1,
    )
    gap = F.expr(
        "(unix_micros(cast(matched_ts as timestamp))"
        " - unix_micros(cast(ts as timestamp))) div 1000000"
    )
    gaps = joined.select(F.when(gap <= _RECOVERY_TOL_S, gap).alias("gap_s"))
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_errors"),
        F.count("gap_s").cast("bigint").alias("n_recovered"),
        F.sum("gap_s").cast("bigint").alias("total_gap_seconds"),
        F.max("gap_s").cast("bigint").alias("max_gap_seconds"),
    )


# ---------------------------------------------------------------------------
# Sweep-line session concurrency (interval algebra without |N|^2 overlap)
# ---------------------------------------------------------------------------
_SESSION_GAP_US = 1_800_000_000  # 30 min, same as sessionize_events


@_register(
    "session_concurrency_report",
    "peak concurrent sessions per day by sweep-line: sessionized "
    "intervals emit +1/-1 boundary rows, the running sum is computed "
    "per-day with cross-day carry offsets from the TINY day-total table "
    "(block prefix-sum — no single global window over all boundaries), "
    "and the per-day max is permutation-invariant within (t, delta) "
    "ties so both engines agree exactly; ends are inclusive (-1 lands "
    "at end+1µs)",
    f"""
    with ev as (select * replace (date_trunc('microseconds', ts) as ts)
                from events),
    flagged as (
        select user_id, event_id, ts,
               case when epoch_us(ts) - lag(epoch_us(ts)) over w
                         > {_SESSION_GAP_US}
                         or lag(epoch_us(ts)) over w is null
                    then 1 else 0 end as is_new
        from ev
        window w as (partition by user_id order by ts, event_id)
    ),
    sessions as (
        select user_id,
               sum(is_new) over (partition by user_id order by ts, event_id
                                 rows unbounded preceding) as session_seq,
               ts
        from flagged
    ),
    intervals as (
        select min(epoch_us(ts)) as s, max(epoch_us(ts)) + 1 as e
        from sessions group by user_id, session_seq
    ),
    bounds as (
        select s as t, 1 as delta from intervals
        union all
        select e as t, -1 as delta from intervals
    ),
    swept as (
        select t, delta,
               sum(delta) over (order by t, delta desc
                                rows unbounded preceding) as conc
        from bounds
    )
    select make_timestamp((t // 86400000000) * 86400000000) as day,
           cast(max(conc) as bigint) as max_concurrency
    from swept
    group by 1
    order by 1
    """,
)
def session_concurrency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _spread(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    is_new = F.when(
        (us - F.lag(us).over(w) > _SESSION_GAP_US) | F.lag(us).over(w).isNull(),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        ev.select("user_id", "event_id", "ts", is_new.alias("is_new"))
        .withColumn("session_seq", F.sum("is_new").over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            (F.max(F.unix_micros("ts")) + 1).alias("e"),
        )
    )
    bounds = sessions.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(sessions.select(F.col("e").alias("t"), F.lit(-1).alias("delta")))
    day = F.expr("(t div 86400000000) * 86400000000").alias("day_us")
    staged = bounds.select("t", "delta", day).localCheckpoint(eager=True)
    # cross-day carry: cumulative sum of prior days' delta totals — the
    # day table is tiny, so its ordered window is trivially small; the
    # per-boundary running sum only ever windows WITHIN one day
    day_tot = staged.groupBy("day_us").agg(F.sum("delta").alias("day_delta"))
    wd = Window.orderBy("day_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carry = F.broadcast(
        day_tot.select(
            "day_us",
            (F.sum("day_delta").over(wd) - F.col("day_delta")).alias("carry"),
        )
    )
    wb = Window.partitionBy("day_us").orderBy(
        F.col("t"), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = staged.join(carry, "day_us").select(
        "day_us", (F.col("carry") + F.sum("delta").over(wb)).alias("conc")
    )
    return (
        swept.groupBy("day_us")
        .agg(F.max("conc").cast("bigint").alias("max_concurrency"))
        .select(
            F.timestamp_micros(F.col("day_us")).alias("day"), "max_concurrency"
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Event path mining: top 3-step sequences within user sessions
# ---------------------------------------------------------------------------
@_register(
    "event_path_mining",
    "top-20 3-step event paths WITHIN sessions (gap-sessionized like "
    "sessionize_events): two lead() windows over one user_id shuffle "
    "build the trigram, session boundaries void cross-session paths, "
    "exact counts, TakeOrderedAndProject top-k — the sequence-n-gram "
    "complement of event_transition_matrix's 2-step counts",
    f"""
    with ev as (select * replace (date_trunc('microseconds', ts) as ts)
                from events),
    flagged as (
        select user_id, event_id, ts, event_type,
               case when epoch_us(ts) - lag(epoch_us(ts)) over w
                         > {_SESSION_GAP_US}
                         or lag(epoch_us(ts)) over w is null
                    then 1 else 0 end as is_new
        from ev
        window w as (partition by user_id order by ts, event_id)
    ),
    sessions as (
        select *, sum(is_new) over (partition by user_id
                                    order by ts, event_id
                                    rows unbounded preceding) as session_seq
        from flagged
    ),
    tri as (
        select event_type as e1,
               lead(event_type, 1) over w2 as e2,
               lead(event_type, 2) over w2 as e3,
               session_seq,
               lead(session_seq, 2) over w2 as seq3
        from sessions
        window w2 as (partition by user_id order by ts, event_id)
    )
    select e1, e2, e3, cast(count(*) as bigint) as n_paths
    from tri
    where e3 is not null and seq3 = session_seq
    group by e1, e2, e3
    order by n_paths desc, e1, e2, e3
    limit 20
    """,
)
def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _spread(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    is_new = F.when(
        (us - F.lag(us).over(w) > _SESSION_GAP_US) | F.lag(us).over(w).isNull(),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = ev.select(
        "user_id", "event_id", "ts", "event_type", is_new.alias("is_new")
    ).withColumn("session_seq", F.sum("is_new").over(run))
    tri = sessions.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        "session_seq",
        F.lead("session_seq", 2).over(w).alias("seq3"),
    )
    return (
        tri.filter(F.col("e3").isNotNull() & (F.col("seq3") == F.col("session_seq")))
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Quantile normalization across groups (batch-effect correction style)
# ---------------------------------------------------------------------------
@_register(
    "quantile_normalize_report",
    "nearest-rank quantile normalization of n_chars across langs: each "
    "doc's within-group min-rank maps to the pooled order statistic at "
    "target_pos = (rank-1)*(N-1) div (n_g-1) + 1 — ALL integer "
    "arithmetic, zero floats. Ranks come from per-group VALUE "
    "histograms and the pooled position lookup is a range join into "
    "the pooled histogram's cumulative intervals (both histograms are "
    "|distinct values|-sized and broadcast) — no global sort, no "
    "single-partition window",
    """
    with pooled as (
        select n_chars, count(*) as c from documents group by n_chars
    ),
    pooled_cum as (
        select n_chars,
               sum(c) over (order by n_chars rows unbounded preceding)
                   - c + 1 as lo,
               sum(c) over (order by n_chars rows unbounded preceding) as hi
        from pooled
    ),
    n_tot as (select cast(count(*) as bigint) as n from documents),
    grp_hist as (
        select lang, n_chars, count(*) as c from documents
        group by lang, n_chars
    ),
    grp_rank as (
        select lang, n_chars,
               sum(c) over (partition by lang order by n_chars
                            rows unbounded preceding) - c + 1 as min_rank
        from grp_hist
    ),
    grp_n as (select lang, cast(count(*) as bigint) as n_g
              from documents group by lang),
    target as (
        select d.lang, d.n_chars, g.min_rank, gn.n_g, nt.n,
               case when gn.n_g = 1 then 1
                    else (g.min_rank - 1) * (nt.n - 1) // (gn.n_g - 1) + 1
               end as pos
        from documents d
        join grp_rank g on g.lang = d.lang and g.n_chars = d.n_chars
        join grp_n gn on gn.lang = d.lang
        cross join n_tot nt
    ),
    normalized as (
        select t.lang, p.n_chars as norm_chars
        from target t
        join pooled_cum p on t.pos between p.lo and p.hi
    )
    select lang,
           cast(count(*) as bigint) as n_docs,
           cast(min(norm_chars) as bigint) as min_norm,
           cast(max(norm_chars) as bigint) as max_norm,
           cast(sum(norm_chars) as bigint) as sum_norm
    from normalized
    group by lang
    order by lang
    """,
)
def quantile_normalize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _spread(_t(spark, sf_dir, "documents"))
    # pos depends only on (lang, n_chars), so the whole normalization
    # runs on the value histogram: documents is scanned for ONE
    # (lang, n_chars) aggregation, every doc-level join collapses to a
    # histogram-sized one, and each group row carries its weight c
    # (n_docs = sum(c), sum_norm = sum(c * norm_chars) — all integers,
    # identical to the per-doc form). pooled / per-lang totals / N all
    # derive from the same histogram aggregate, which the planner
    # reuses via ReuseExchange instead of rescanning documents.
    grp_hist = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    pooled = grp_hist.groupBy("n_chars").agg(F.sum("c").alias("c"))
    wp = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pooled_cum = F.broadcast(
        pooled.select(
            "n_chars",
            (F.sum("c").over(wp) - F.col("c") + 1).alias("lo"),
            F.sum("c").over(wp).alias("hi"),
        )
    )
    wg = Window.partitionBy("lang").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # n_g and N are windows over the SAME histogram rows — no grp_n
    # join, no n_tot cross join (two fewer histogram branches).
    ranked = grp_hist.select(
        "lang",
        "c",
        (F.sum("c").over(wg) - F.col("c") + 1).alias("min_rank"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n_g"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    target = ranked.select(
        "lang",
        "c",
        F.when(F.col("n_g") == 1, F.lit(1))
        .otherwise(F.expr("(min_rank - 1) * (n - 1) div (n_g - 1)") + 1)
        .alias("pos"),
    )
    normalized = target.join(
        pooled_cum,
        (F.col("pos") >= F.col("lo")) & (F.col("pos") <= F.col("hi")),
    ).select("lang", "c", F.col("n_chars").alias("norm_chars"))
    return (
        normalized.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.min("norm_chars").cast("bigint").alias("min_norm"),
            F.max("norm_chars").cast("bigint").alias("max_norm"),
            F.sum(F.col("c") * F.col("norm_chars")).cast("bigint").alias("sum_norm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Gini inequality of customer spend (Lorenz-curve economics, exact ints)
# ---------------------------------------------------------------------------
@_register(
    "gini_inequality_report",
    "per-mktsegment Gini coefficient of customer spend, exact integer "
    "arithmetic end-to-end: spend in cents (decimal->bigint), ranks "
    "from the per-segment VALUE histogram (sum of i*x over a tied run "
    "= v*(c*r + c*(c-1)/2) — closed form, no per-row ranking), "
    "Gini = (2*S1 - (n+1)*S0) / (n*S0) micro-rounded once at the end; "
    "the only window runs over per-segment distinct spend values",
    """
    with spend as (
        select c.c_mktsegment as seg, o.o_custkey,
               cast(sum(cast(o.o_totalprice as decimal(18,2))) * 100
                    as bigint) as cents
        from orders o join customer c on c.c_custkey = o.o_custkey
        group by 1, 2
    ),
    hist as (
        select seg, cents, cast(count(*) as bigint) as c
        from spend group by seg, cents
    ),
    ranked as (
        select seg, cents, c,
               sum(c) over (partition by seg order by cents
                            rows unbounded preceding) - c + 1 as r
        from hist
    ),
    sums as (
        select seg,
               cast(sum(c) as bigint) as n,
               cast(sum(cast(c * cents as decimal(28,0))) as decimal(38,0)) as s0,
               cast(sum(cast(cents as decimal(28,0))
                        * (c * r + c * (c - 1) // 2)) as decimal(38,0)) as s1
        from ranked group by seg
    )
    select seg,
           n as n_customers,
           cast(s0 as bigint) as total_cents,
           cast(floor((2.0 * cast(s1 as double) - (n + 1.0) * cast(s0 as double))
                      / (1.0 * n * cast(s0 as double))
                      * 1000000 + 0.5) as bigint) as gini_micro
    from sums
    order by seg
    """,
)
def gini_inequality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _spread(_t(spark, sf_dir, "orders"))
    cust = _t(spark, sf_dir, "customer")
    spend = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    hist = spend.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("seg").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.select(
        "seg", "cents", "c", (F.sum("c").over(wr) - F.col("c") + 1).alias("r")
    )
    # decimal(38) accumulators: S1 ~ n * max_cents * n overflows bigint
    # at ~1e9 customers; decimals carry to 1e38 in both engines
    sums = ranked.groupBy("seg").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum((F.col("c") * F.col("cents")).cast("decimal(28,0)"))
        .cast("decimal(38,0)")
        .alias("s0"),
        F.sum(
            F.col("cents").cast("decimal(28,0)")
            * (F.col("c") * F.col("r") + F.expr("c * (c - 1) div 2"))
        )
        .cast("decimal(38,0)")
        .alias("s1"),
    )
    gini = (
        (2.0 * F.col("s1").cast("double") - (F.col("n") + 1.0) * F.col("s0").cast("double"))
        / (1.0 * F.col("n") * F.col("s0").cast("double"))
    )
    return sums.select(
        "seg",
        F.col("n").alias("n_customers"),
        F.col("s0").cast("bigint").alias("total_cents"),
        F.floor(gini * 1000000 + F.lit(0.5)).cast("bigint").alias("gini_micro"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# Rolling 7-day active users (sliding-window distinct without re-scan)
# ---------------------------------------------------------------------------
@_register(
    "rolling_active_users",
    "7-day rolling active users: distinct (user, day) pairs explode "
    "into the 7 window-end buckets they contribute to, then one exact "
    "count-distinct per bucket — each sliding window is computed from "
    "day-grain data (never 7 re-scans of raw events), the standard "
    "scalable WAU shape; window ends ordered, exact counts",
    """
    with ud as (
        select distinct user_id,
               epoch_us(date_trunc('day', ts)) // 86400000000 as day_no
        from events
    ),
    contrib as (
        select user_id, day_no + i as window_end
        from ud, unnest(range(0, 7)) as t(i)
    ),
    span as (
        select min(day_no) as lo, max(day_no) as hi from ud
    )
    select make_timestamp(window_end * 86400000000) as window_end_day,
           cast(count(distinct user_id) as bigint) as active_users_7d
    from contrib, span
    where window_end between span.lo and span.hi
    group by window_end
    order by window_end
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    ud = ev.select(
        "user_id",
        F.expr(
            "unix_micros(cast(date_trunc('day', ts) as timestamp))"
            " div 86400000000"
        ).alias("day_no"),
    ).distinct()
    ud = ud.localCheckpoint(eager=True)  # read by contrib AND the span agg
    span = F.broadcast(
        ud.agg(F.min("day_no").alias("lo"), F.max("day_no").alias("hi"))
    )
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day_no"), F.col("day_no") + 6)).alias(
            "window_end"
        ),
    )
    return (
        contrib.crossJoin(span)
        .filter(F.col("window_end").between(F.col("lo"), F.col("hi")))
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users_7d"))
        .select(
            F.timestamp_micros(F.col("window_end") * 86400000000).alias(
                "window_end_day"
            ),
            "active_users_7d",
        )
        .orderBy("window_end_day")
    )


# ---------------------------------------------------------------------------
# Collocation mining: adjacent-bigram PMI over the corpus
# ---------------------------------------------------------------------------
_PMI_MIN_COUNT = 5


@_register(
    "collocation_pmi_report",
    "top-20 collocations by pointwise mutual information of ADJACENT "
    "token bigrams (Church & Hanks): unigram/bigram counts are exact "
    "map-side-combined aggregations, totals attach as one-row "
    "broadcasts, pmi = ln of one double quotient of exact counts "
    "rounded 6dp (module ln convention, cf. unigram_perplexity_report);"
    f" bigrams below count {_PMI_MIN_COUNT} are pruned BEFORE the "
    "unigram joins so only candidate collocations join",
    f"""
    with tok as (select {{toks}} as t from documents),
    uni as (
        select term, cast(count(*) as bigint) as n_x
        from (select unnest(t) as term from tok) group by term
    ),
    n_uni as (select cast(sum(n_x) as double) as nu from uni),
    bi as (
        select g, cast(count(*) as bigint) as n_xy
        from (
            select unnest(case when len(t) >= 2
                          then list_transform(range(1, len(t)),
                                              i -> t[i] || ' ' || t[i+1])
                          else []::varchar[] end) as g
            from tok
        ) group by g
        having count(*) >= {_PMI_MIN_COUNT}
    ),
    n_bi as (
        select cast(sum(len(t) - 1) as double) as nb
        from tok where len(t) >= 2
    ),
    scored as (
        select split_part(g, ' ', 1) as x, split_part(g, ' ', 2) as y,
               n_xy, g
        from bi
    )
    select s.x, s.y, s.n_xy, ux.n_x as n_x, uy.n_x as n_y,
           round(ln((s.n_xy * nu.nu * nu.nu)
                    / (nb.nb * ux.n_x * uy.n_x)), 6) as pmi
    from scored s
    join uni ux on ux.term = s.x
    join uni uy on uy.term = s.y
    cross join n_uni nu cross join n_bi nb
    order by pmi desc, s.x, s.y
    limit 20
    """.format(toks="string_split_regex(trim(lower(text)), '\\s+')"),
)
def collocation_pmi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators import text as text_ops

    docs = _spread(_t(spark, sf_dir, "documents"))
    staged = docs.select(text_ops.tokens("text").alias("t"))
    uni = (
        staged.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_x"))
    )
    uni = uni.localCheckpoint(eager=True)  # read by 2 joins + the total
    n_uni = F.broadcast(uni.agg(F.sum("n_x").cast("double").alias("nu")))
    bi = (
        staged.select(
            F.explode(text_ops.word_ngrams_all(F.col("t"), 2)).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= _PMI_MIN_COUNT)
    )
    n_bi = F.broadcast(
        staged.filter(F.size("t") >= 2)
        .agg(F.sum(F.size("t") - 1).cast("double").alias("nb"))
    )
    scored = bi.select(
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("x"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("y"),
        "n_xy",
    )
    ux = uni.select(F.col("term").alias("x"), F.col("n_x").alias("n_x"))
    uy = uni.select(F.col("term").alias("y"), F.col("n_x").alias("n_y"))
    pmi = F.round(
        F.log(
            (F.col("n_xy") * F.col("nu") * F.col("nu"))
            / (F.col("nb") * F.col("n_x") * F.col("n_y"))
        ),
        6,
    )
    return (
        scored.join(ux, "x")
        .join(uy, "y")
        .crossJoin(n_uni)
        .crossJoin(n_bi)
        .select("x", "y", "n_xy", "n_x", "n_y", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "x", "y")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dedup yield curve (diminishing returns of additional corpus slices)
# ---------------------------------------------------------------------------
@_register(
    "dedup_rate_curve",
    "marginal dedup yield: the corpus split into 10 deterministic md5 "
    "slices, each content digest credited to its FIRST slice (min "
    "(slice, doc_id) via one digest-keyed aggregation — no window over "
    "rows), per-slice new-unique counts and the cumulative unique "
    "curve (tiny 10-row running sum) — the data-planning curve for "
    "'does more crawl still add content?'",
    """
    with sliced as (
        select doc_id, md5(text) as digest,
               ('0x' || substr(md5('slice' || cast(doc_id as varchar)), 1, 8))
                   ::ubigint % 10 as slice
        from documents
    ),
    firsts as (
        select digest, min(slice * 10000000000 + doc_id) as first_key
        from sliced group by digest
    ),
    per_slice as (
        select s.slice,
               cast(count(*) as bigint) as n_docs,
               cast(sum(case when f.first_key = s.slice * 10000000000 + s.doc_id
                             then 1 else 0 end) as bigint) as n_new_unique
        from sliced s join firsts f on f.digest = s.digest
        group by s.slice
    )
    select cast(slice as bigint) as slice, n_docs, n_new_unique,
           cast(sum(n_new_unique) over (order by slice
                                        rows unbounded preceding) as bigint)
               as cumulative_unique
    from per_slice
    order by slice
    """,
)
def dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _spread(_t(spark, sf_dir, "documents"))
    slice_col = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("slice"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    sliced = docs.select(
        "doc_id", F.md5("text").alias("digest"), slice_col.alias("slice")
    )
    firsts = sliced.groupBy("digest").agg(
        F.min(F.col("slice") * 10_000_000_000 + F.col("doc_id")).alias(
            "first_key"
        )
    )
    per_slice = (
        sliced.join(firsts, "digest")
        .groupBy("slice")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("first_key")
                    == F.col("slice") * 10_000_000_000 + F.col("doc_id"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new_unique"),
        )
    )
    wc = Window.orderBy("slice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_slice.select(
            F.col("slice").cast("bigint").alias("slice"),
            "n_docs",
            "n_new_unique",
            F.sum("n_new_unique").over(wc).cast("bigint").alias(
                "cumulative_unique"
            ),
        )
        .orderBy("slice")
    )


# ---------------------------------------------------------------------------
# Round-6 continuation-2: corpus-statistics additions
# ---------------------------------------------------------------------------
_SQL_TOKENS_C2 = "string_split_regex(trim(lower(text)), '\\s+')"


@_register(
    "zipf_fit_report",
    "per-source Zipf fit: OLS of ln(freq) on ln(rank) over the top-100 "
    "terms (WindowGroupLimit-bounded fit set) — the corpus-health "
    "diagnostic for unnaturally flat/steep token distributions. "
    "ln values quantize to micro-units BEFORE the normal-equation sums "
    "(order-free bigint arithmetic; the engines' native regr_slope "
    "merges order-dependent partial states), one double division at "
    "the end, slope ≈ -1 for natural text",
    f"""
    with tf as (
        select source, term, count(*) as freq
        from (select source, unnest({_SQL_TOKENS_C2}) as term
              from documents)
        group by 1, 2
    ),
    ranked as (
        select source, term, freq,
               row_number() over (partition by source
                                  order by freq desc, term asc) as rnk
        from tf
    ),
    pts as (
        select source,
               cast(round(ln(cast(rnk as double)) * 1e6, 0) as bigint) as x,
               cast(round(ln(cast(freq as double)) * 1e6, 0) as bigint) as y
        from ranked where rnk <= 100
    ),
    fit as (
        select source,
               cast(count(*) as bigint) as n,
               cast(sum(x) as bigint) as sx,
               cast(sum(y) as bigint) as sy,
               cast(sum(x * x) as bigint) as sxx,
               cast(sum(x * y) as bigint) as sxy
        from pts group by source
    )
    select source, n as n_terms,
           round(cast(n * sxy - sx * sy as double)
                 / cast(n * sxx - sx * sx as double), 6) as zipf_slope,
           round((cast(sy as double)
                  - round(cast(n * sxy - sx * sy as double)
                          / cast(n * sxx - sx * sx as double), 6)
                    * cast(sx as double)) / cast(n as double) / 1e6, 6)
               as zipf_intercept
    from fit
    order by source
    """,
)
def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_datbricks_demo_spark.operators import text

    docs = _spread(_t(spark, sf_dir, "documents"))
    tf = (
        docs.select("source", F.explode(text.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("freq"), F.asc("term")
    )
    pts = (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 100)
        .select(
            "source",
            F.round(F.log(F.col("rnk").cast("double")) * 1e6, 0)
            .cast("bigint")
            .alias("x"),
            F.round(F.log(F.col("freq").cast("double")) * 1e6, 0)
            .cast("bigint")
            .alias("y"),
        )
    )
    fit = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = F.round(num / den, 6)
    return (
        fit.select(
            "source",
            F.col("n").alias("n_terms"),
            slope.alias("zipf_slope"),
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double")
                / F.lit(1e6),
                6,
            ).alias("zipf_intercept"),
        )
        .orderBy("source")
    )


@_register(
    "source_overlap_matrix",
    "inter-source duplication heatmap: for every source pair, the "
    "count of shared DISTINCT word-8-gram digests and their Jaccard — "
    "the cross-domain contamination view of the dedup surface. Shape: "
    "distinct (digest, source) rows shuffle once; the per-digest "
    "self-join expands to at most |sources|² rows per digest "
    "(20 sources → bounded), and the pair aggregation absorbs "
    "map-side; document bodies never shuffle",
    f"""
    with grams as (
        select distinct source,
               ('0x' || substr(md5(g), 1, 15))::ubigint::bigint as gh
        from (
            select source,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                   || ' ' || t[i+7] as g
            from (select source, {_SQL_TOKENS_C2} as t,
                         unnest(range(1, greatest(len({_SQL_TOKENS_C2}) - 7, 0) + 1)) as i
                  from documents)
        )
    ),
    sizes as (select source, cast(count(*) as bigint) as n_grams
              from grams group by source),
    shared as (
        select a.source as source_a, b.source as source_b,
               cast(count(*) as bigint) as shared_grams
        from grams a join grams b
          on a.gh = b.gh and a.source < b.source
        group by 1, 2
    )
    select s.source_a, s.source_b,
           na.n_grams as grams_a, nb.n_grams as grams_b, s.shared_grams,
           round(cast(s.shared_grams as double)
                 / cast(na.n_grams + nb.n_grams - s.shared_grams as double),
                 6) as jaccard
    from shared s
    join sizes na on na.source = s.source_a
    join sizes nb on nb.source = s.source_b
    order by source_a, source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators import text

    docs = _spread(_t(spark, sf_dir, "documents"))
    n = 8
    toks = docs.select("source", text.tokens("text").alias("_t"))
    seq = F.when(
        F.size("_t") >= n, F.sequence(F.lit(1), F.size("_t") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        toks.select("source", F.explode(seq).alias("_p"), "_t")
        .select(
            "source",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("_t"), F.col("_p"), n))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("gh"),
        )
        .distinct()
        # the distinct (source, digest) relation is read three times
        # (sizes + both join sides): one eager materialization
        .localCheckpoint(eager=True)
    )
    sizes = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    a = grams.select(F.col("source").alias("source_a"), "gh")
    b = grams.select(F.col("source").alias("source_b"), "gh")
    shared = (
        a.join(b, "gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    na = sizes.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    nb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        shared.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            "shared_grams",
            F.round(
                F.col("shared_grams").cast("double")
                / (
                    F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@_register(
    "quality_threshold_curve",
    "filter-threshold yield curve: documents score by integer lexical "
    "diversity ((1e6·distinct)÷tokens — the token_budget_selection "
    "metric); for each of 10 candidate thresholds, the docs/tokens "
    "surviving the filter — computed as ONE aggregation over 10 score "
    "buckets plus a suffix-cumulative window over the ≤10-row bucket "
    "table (never 10 corpus passes); the curve a curation run reads to "
    "pick its operating point",
    f"""
    with s as (
        select doc_id, len(t) as nt, len(list_distinct(t)) as nd
        from (select doc_id, {_SQL_TOKENS_C2} as t from documents)
        where len(t) > 0
    ),
    scored as (
        select *, least((1000000 * nd) // nt // 100000, 9) as bucket
        from s
    ),
    buckets as (
        select bucket, cast(count(*) as bigint) as n_docs,
               cast(sum(nt) as bigint) as n_tokens
        from scored group by bucket
    ),
    tot as (select cast(sum(n_docs) as bigint) as all_docs,
                   cast(sum(n_tokens) as bigint) as all_tokens
            from buckets),
    curve as (
        select bucket * 100000 as threshold_micro,
               sum(n_docs) over (order by bucket desc
                                 rows between unbounded preceding
                                 and current row) as docs_ge,
               sum(n_tokens) over (order by bucket desc
                                   rows between unbounded preceding
                                   and current row) as tokens_ge
        from buckets
    )
    select threshold_micro,
           cast(docs_ge as bigint)   as docs_kept,
           cast(tokens_ge as bigint) as tokens_kept,
           round(cast(docs_ge as double) / cast(all_docs as double), 6)
               as doc_frac,
           round(cast(tokens_ge as double) / cast(all_tokens as double), 6)
               as token_frac
    from curve, tot
    order by threshold_micro
    """,
)
def quality_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_datbricks_demo_spark.operators import text

    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = text.tokens("text")
    scored = (
        docs.select(
            F.size(toks).cast("bigint").alias("nt"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("nd"),
        )
        .filter(F.col("nt") > 0)
        .select(
            F.least(
                F.expr("(1000000 * nd) div nt div 100000"), F.lit(9)
            ).alias("bucket"),
            "nt",
        )
    )
    buckets = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    tot = buckets.agg(
        F.sum("n_docs").cast("bigint").alias("all_docs"),
        F.sum("n_tokens").cast("bigint").alias("all_tokens"),
    )
    # the bucket table is <= 10 rows: the suffix-cumulative window is
    # a bounded single-partition frame by construction
    w = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = buckets.select(
        (F.col("bucket") * 100000).alias("threshold_micro"),
        F.sum("n_docs").over(w).alias("docs_ge"),
        F.sum("n_tokens").over(w).alias("tokens_ge"),
    )
    return (
        curve.crossJoin(F.broadcast(tot))
        .select(
            "threshold_micro",
            F.col("docs_ge").cast("bigint").alias("docs_kept"),
            F.col("tokens_ge").cast("bigint").alias("tokens_kept"),
            F.round(
                F.col("docs_ge").cast("double") / F.col("all_docs").cast("double"),
                6,
            ).alias("doc_frac"),
            F.round(
                F.col("tokens_ge").cast("double")
                / F.col("all_tokens").cast("double"),
                6,
            ).alias("token_frac"),
        )
        .orderBy("threshold_micro")
    )
