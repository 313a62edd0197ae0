"""Warehouse/layout operators: mergeable distinct sketches, bloom-filter
join pruning, SCD2 dimension history, column profiling, data-quality
checks, and Z-order clustering keys.

These round out the engine surface a 100 TB deployment leans on between
queries: cardinality estimation without a shuffle-heavy distinct
(HyperLogLog registers merge with ``max`` — the partial-aggregate shape),
semi-join pruning that ships a few KB of bloom bits instead of the dim
table, slowly-changing-dimension snapshots, table profiling / constraint
audits that guard every ingest, and multi-dimensional clustering keys that
make min/max file skipping work for two-column predicates.

Everything is md5/bit-arithmetic deterministic so the DuckDB oracles
reproduce results bit-for-bit (the repo-wide hash discipline,
text_ops._md5_long).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import scratch_dir

# --------------------------------------------------------------------------
# HyperLogLog (m=64, md5-derived hash) — deterministic, engine-portable
# --------------------------------------------------------------------------

# 60-bit md5 hash of the key; low 6 bits pick the register, the remaining
# 54 bits feed the leading-zero rank. rho = 55 - len(bin(rest)) because
# floor(log2(rest)) = len(bin(rest)) - 1; rest = 0 means all 54 bits are
# zero -> rho = 55.
_HLL_RHO_SQL = (
    "CASE WHEN rest = 0 THEN 55 "
    "ELSE 55 - length(bin(rest)) END"
)

# Registers fold into an integer-scaled harmonic sum: 2^(-r) scaled by
# 2^55 keeps every term an exact BIGINT (max 64 * 2^55 = 2^61), so the
# only float op is the final division — bit-identical on any IEEE engine.
# alpha_64 = 0.709 (the standard constant for m=64); small-range
# correction E <= 2.5m with empty registers switches to linear counting.
# literals: 0.709 is CAST to DOUBLE explicitly (Spark and DuckDB both
# parse bare decimal literals as DECIMAL, whose arithmetic differs);
# 2^55 is written in e-notation so neither engine sees a DECIMAL(18).
_HLL_RAW_SQL = (
    "(CAST(0.709 AS DOUBLE) * 4096 * 3.6028797018963968e16 / intsum)"
)
_HLL_EST_SQL = (
    f"CASE WHEN {_HLL_RAW_SQL} <= 160 AND zeros > 0 "
    "THEN 64 * ln(64 / CAST(zeros AS DOUBLE)) "
    f"ELSE {_HLL_RAW_SQL} END"
)


@register(
    "q198_hll_distinct_sketch",
    oracle=f"""
    WITH tagged AS (
        SELECT event_type, user_id FROM events
        UNION ALL
        SELECT '__all__' AS event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM tagged
    ),
    split AS (
        SELECT event_type, h % 64 AS bucket, h // 64 AS rest FROM hashed
    ),
    regs AS (
        SELECT event_type, bucket, max({_HLL_RHO_SQL}) AS r
        FROM split GROUP BY event_type, bucket
    ),
    folded AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_buckets_used,
               sum(1::BIGINT << (55 - r))
                   + (64 - count(*)) * (1::BIGINT << 55) AS intsum,
               64 - count(*) AS zeros
        FROM regs GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        FROM tagged GROUP BY event_type
    )
    SELECT f.event_type, f.n_buckets_used,
           round({_HLL_EST_SQL}, 3) AS estimate,
           e.exact
    FROM folded f JOIN exact e ON e.event_type = f.event_type
    """,
    survey_ref="north-star corpus statistics: mergeable distinct sketch "
               "(HyperLogLog; complements the KMV sketch q115) — §2B "
               "approx_count_distinct row, restated deterministically",
    doc="Deterministic HyperLogLog (m=64, md5 hash): per-event-type "
        "registers plus a merged '__all__' row proving register "
        "mergeability (max over buckets == sketch of the union — the "
        "partial-aggregate shape that makes distinct counts one map-side "
        "pass at 100 TB). Integer-scaled harmonic sum keeps the fold "
        "exact; the only float ops are one division and the linear-"
        "counting branch, identical on any IEEE engine.",
)
def q198_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    tagged = ev.select("event_type", "user_id").unionByName(
        ev.select(F.lit("__all__").alias("event_type"), "user_id")
    )
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    # shiftright, NOT `/`: Spark's `/` goes through double (53-bit
    # mantissa), which rounds 60-bit hashes and breaks parity with the
    # oracle's exact `h // 64` near powers of two
    split = tagged.select(
        "event_type",
        (h % 64).alias("bucket"),
        F.shiftright(h, 6).alias("rest"),
    )
    regs = split.groupBy("event_type", "bucket").agg(
        F.max(F.expr(_HLL_RHO_SQL)).alias("r")
    )
    folded = regs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_buckets_used"),
        (
            F.sum(F.expr("CAST(1 AS BIGINT) << (55 - r)"))
            + (64 - F.count("*")) * F.lit(1 << 55)
        ).cast("long").alias("intsum"),
        (64 - F.count("*")).cast("long").alias("zeros"),
    )
    exact = tagged.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact")
    )
    return (
        folded.join(exact, "event_type")
        .select(
            "event_type",
            "n_buckets_used",
            F.round(F.expr(_HLL_EST_SQL), 3).alias("estimate"),
            "exact",
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter join pruning
# --------------------------------------------------------------------------

_BLOOM_M = 8192
_BLOOM_K = 3


def _bloom_pos(key, i: int):
    """Hash position i of a key in the m-bit filter (md5-derived)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(i)), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


def _bloom_pos_sql(expr: str, i: int) -> str:
    return (
        f"CAST('0x' || substr(md5('{i}' || ':' || CAST({expr} AS VARCHAR)),"
        f" 1, 15) AS BIGINT) % {_BLOOM_M}"
    )


@register(
    "q199_bloom_join_prune",
    oracle=f"""
    WITH dim AS (
        SELECT s_suppkey AS k FROM supplier WHERE s_acctbal >= 8000
    ),
    bloom AS (
        SELECT DISTINCT pos FROM (
            SELECT {_bloom_pos_sql('k', 0)} AS pos FROM dim
            UNION ALL SELECT {_bloom_pos_sql('k', 1)} FROM dim
            UNION ALL SELECT {_bloom_pos_sql('k', 2)} FROM dim
        )
    ),
    fact AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
    probes AS (
        SELECT k, {_bloom_pos_sql('k', 0)} AS pos FROM fact
        UNION ALL SELECT k, {_bloom_pos_sql('k', 1)} FROM fact
        UNION ALL SELECT k, {_bloom_pos_sql('k', 2)} FROM fact
    ),
    cand AS (
        SELECT p.k
        FROM probes p JOIN bloom b ON b.pos = p.pos
        GROUP BY p.k HAVING count(*) = {_BLOOM_K}
    ),
    truth AS (SELECT k FROM fact WHERE k IN (SELECT k FROM dim))
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM dim) AS n_dim_keys,
        (SELECT CAST(count(*) AS BIGINT) FROM bloom) AS n_bits_set,
        (SELECT CAST(count(*) AS BIGINT) FROM fact) AS n_fact_keys,
        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
        (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_match,
        (SELECT CAST(count(*) AS BIGINT) FROM cand) -
            (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_false_pos
    """,
    survey_ref="§2B joins (semi-join pruning) — runtime-filter form: the "
               f"engine ships an {_BLOOM_M}-bit filter, not the dim table "
               "(Spark's own runtime bloom pushdown, restated "
               "deterministically so the oracle can replay it)",
    doc="Bloom-filter semi-join pruning: k=3 md5-derived bit positions "
        "per dim key; a fact key survives iff all three bits are set. "
        "The filter is a few KB regardless of fact size — at 100 TB the "
        "bits broadcast to every executor and prune the scan before the "
        "shuffle, while the true semi-join runs only on the surviving "
        "candidates. Reports candidate/true/false-positive counts; the "
        "false positives ARE the sketch's documented error, verified "
        "exactly by the oracle.",
)
def q199_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    dim = sup.filter(F.col("s_acctbal") >= 8000).select(
        F.col("s_suppkey").alias("k")
    )
    # all k bit positions in ONE pass (explode of a position array) —
    # the former per-position union embedded the dim scan / the
    # lineitem-distinct subtree once per position, and the relations
    # also feed the count block and the truth semi-join below, where
    # broadcast build sides defeat exchange reuse. The distinct key
    # relations are checkpointed: lineitem is scanned+deduped once
    # instead of five times.
    all_pos = F.array(
        *[_bloom_pos(F.col("k"), i) for i in range(_BLOOM_K)]
    )
    dim = dim.localCheckpoint(eager=False)
    bloom = (
        dim.select(F.explode(all_pos).alias("pos"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    fact = (
        li.select(F.col("l_suppkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    probes = fact.select("k", F.explode(all_pos).alias("pos"))
    cand = (
        probes.join(F.broadcast(bloom), "pos")
        .groupBy("k")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == _BLOOM_K)
        .select("k")
    )
    truth = fact.join(F.broadcast(dim), "k", "left_semi")
    counts = [
        dim.agg(F.count("*").cast("long").alias("n_dim_keys")),
        bloom.agg(F.count("*").cast("long").alias("n_bits_set")),
        fact.agg(F.count("*").cast("long").alias("n_fact_keys")),
        cand.agg(F.count("*").cast("long").alias("n_candidates")),
        truth.agg(F.count("*").cast("long").alias("n_true_match")),
    ]
    row = counts[0]
    for c in counts[1:]:
        row = row.crossJoin(c)
    return row.withColumn(
        "n_false_pos", (F.col("n_candidates") - F.col("n_true_match")).cast("long")
    )


# --------------------------------------------------------------------------
# SCD2 dimension history
# --------------------------------------------------------------------------

@register(
    "q200_scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               lag(o_orderpriority) OVER w AS prev_p
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
        FROM ordered
        WHERE prev_p IS NULL OR o_orderpriority <> prev_p
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER w AS effective_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    survey_ref="§2B windows (lag/lead) — SCD Type-2 dimension build, the "
               "standard warehouse snapshot-to-history operator",
    doc="Slowly-changing-dimension (Type 2) history from an event-ordered "
        "fact: change detection via lag, validity intervals via lead, "
        "version numbers and a current flag — two windows over one "
        "shuffle on the dimension key. Partitioned by customer, so "
        "history builds are embarrassingly parallel at any scale.",
)
def q200_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ordered = orders.withColumn("prev_p", F.lag("o_orderpriority").over(w))
    changes = ordered.filter(
        F.col("prev_p").isNull()
        | (F.col("o_orderpriority") != F.col("prev_p"))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective_from"),
        F.lead("o_orderdate").over(w).alias("effective_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Column profiling + data-quality checks
# --------------------------------------------------------------------------

@register(
    "q203_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           round(min(CAST(o_orderkey AS DOUBLE)), 4) AS min_num,
           round(max(CAST(o_orderkey AS DOUBLE)), 4) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           round(min(CAST(o_custkey AS DOUBLE)), 4),
           round(max(CAST(o_custkey AS DOUBLE)), 4)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           round(min(o_totalprice), 4), round(max(o_totalprice), 4)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           round(CAST(min(length(o_orderstatus)) AS DOUBLE), 4),
           round(CAST(max(length(o_orderstatus)) AS DOUBLE), 4)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           round(CAST(min(length(o_orderpriority)) AS DOUBLE), 4),
           round(CAST(max(length(o_orderpriority)) AS DOUBLE), 4)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           round(CAST(epoch(o_orderdate_min) AS DOUBLE), 4),
           round(CAST(epoch(o_orderdate_max) AS DOUBLE), 4)
    FROM (SELECT *, min(o_orderdate) OVER () AS o_orderdate_min,
                    max(o_orderdate) OVER () AS o_orderdate_max
          FROM orders)
    GROUP BY o_orderdate_min, o_orderdate_max
    """,
    survey_ref="engine-general table profiling (the describe/ANALYZE "
               "surface a warehouse runs before planning; feeds CBO "
               "statistics) — §2B aggregations",
    doc="Column profiler over `orders`: one row per column with row/null/"
        "distinct counts and numeric min/max (strings profile their "
        "lengths, timestamps their epoch range). One pass per column "
        "group, all map-side partial aggregates — the statistics "
        "collection that drives join reordering and file skipping.",
)
def q203_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    num = lambda c: (  # noqa: E731
        F.min(F.col(c).cast("double")),
        F.max(F.col(c).cast("double")),
    )
    strlen = lambda c: (  # noqa: E731
        F.min(F.length(c)).cast("double"),
        F.max(F.length(c)).cast("double"),
    )
    ts = lambda c: (  # noqa: E731
        F.min(F.unix_timestamp(c)).cast("double"),
        F.max(F.unix_timestamp(c)).cast("double"),
    )
    specs = [
        ("o_orderkey", *num("o_orderkey")),
        ("o_custkey", *num("o_custkey")),
        ("o_totalprice", *num("o_totalprice")),
        ("o_orderstatus", *strlen("o_orderstatus")),
        ("o_orderpriority", *strlen("o_orderpriority")),
        ("o_orderdate", *ts("o_orderdate")),
    ]
    # ONE scan profiles every column: the six per-column aggregate passes
    # (6 parquet scans + 6 single-partition exchanges as a union) collapse
    # into a single multi-distinct aggregate — Catalyst plans the six
    # count(DISTINCT col) via one Expand, so the table is read once and
    # the non-distinct stats stay map-side partial. inline() then unpacks
    # the 1-row aggregate into the same six profile rows.
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for name, mn, mx in specs:
        aggs += [
            (F.count("*") - F.count(name)).cast("long").alias(f"_nn_{name}"),
            F.count_distinct(F.col(name)).cast("long").alias(f"_nd_{name}"),
            F.round(mn, 4).alias(f"_mn_{name}"),
            F.round(mx, 4).alias(f"_mx_{name}"),
        ]
    one = orders.agg(*aggs)
    rows = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"_nn_{name}").alias("n_nulls"),
            F.col(f"_nd_{name}").alias("n_distinct"),
            F.col(f"_mn_{name}").alias("min_num"),
            F.col(f"_mx_{name}").alias("max_num"),
        )
        for name, _, _ in specs
    ]
    return one.select(F.inline(F.array(*rows)))


@register(
    "q204_dq_constraint_audit",
    oracle="""
    SELECT 'lineitem_orphan_orders' AS check_name,
           CAST(count(*) AS BIGINT) AS n_violations
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_orphan_customers',
           CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST(COALESCE(sum(n - 1), 0) AS BIGINT)
    FROM (SELECT o_orderkey, count(*) AS n FROM orders
          GROUP BY o_orderkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'orders_negative_price',
           CAST(count(*) AS BIGINT)
    FROM orders WHERE o_totalprice < 0
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'events_null_user',
           CAST(count(*) AS BIGINT)
    FROM events WHERE user_id IS NULL
    """,
    survey_ref="engine-general data-quality constraint audit (referential "
               "integrity / pk uniqueness / value ranges — the checks "
               "every ingest gate runs) — §2B anti-join + aggregations",
    doc="Constraint audit: referential integrity via anti-joins (orphan "
        "lineitems/orders), primary-key uniqueness via grouped counts, "
        "value-range and null checks as pure filters. One row per check "
        "with its violation count — anti-joins broadcast the key side "
        "when small, and every check is map-parallel at 100 TB.",
)
def q204_dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")

    def row(name, cnt_df):
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    orphan_li = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    orphan_ord = orders.join(
        cust.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n"))
    )
    neg_price = orders.filter(F.col("o_totalprice") < 0).agg(
        F.count("*").alias("n")
    )
    qty_range = li.filter(
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
    ).agg(F.count("*").alias("n"))
    null_user = ev.filter(F.col("user_id").isNull()).agg(
        F.count("*").alias("n")
    )
    parts = [
        row("lineitem_orphan_orders", orphan_li),
        row("orders_orphan_customers", orphan_ord),
        row("orders_duplicate_pk", dup_pk),
        row("orders_negative_price", neg_price),
        row("lineitem_qty_range", qty_range),
        row("events_null_user", null_user),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Z-order clustering keys
# --------------------------------------------------------------------------

def _spread_bits_sql(col: str) -> str:
    """Morton spread of a 16-bit value onto even bit positions (the
    magic-number interleave; identical text feeds Spark and DuckDB)."""
    e = f"({col} & 65535)"
    e = f"(({e} | ({e} << 8)) & 16711935)"
    e = f"(({e} | ({e} << 4)) & 252645135)"
    e = f"(({e} | ({e} << 2)) & 858993459)"
    e = f"(({e} | ({e} << 1)) & 1431655765)"
    return e


_ZVAL_SQL = (
    f"({_spread_bits_sql('xb')} | ({_spread_bits_sql('yb')} << 1))"
)


@register(
    "q205_zorder_layout",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey,
               o_custkey & 65535 AS xb,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) & 65535 AS yb
        FROM orders
    ),
    z AS (
        SELECT o_orderkey, xb, yb, {_ZVAL_SQL} AS zval FROM keyed
    ),
    filed AS (
        SELECT *, ntile(16) OVER (ORDER BY zval, o_orderkey) AS file_id
        FROM z
    )
    SELECT CAST(file_id AS INT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(xb) AS BIGINT) AS min_cust,
           CAST(max(xb) AS BIGINT) AS max_cust,
           CAST(min(yb) AS BIGINT) AS min_day,
           CAST(max(yb) AS BIGINT) AS max_day,
           CAST(min(zval) AS BIGINT) AS min_z,
           CAST(max(zval) AS BIGINT) AS max_z
    FROM filed GROUP BY file_id
    """,
    survey_ref="engine-general multi-dimensional clustering (Z-order / "
               "Morton keys for min-max file skipping on two-column "
               "predicates) — §2B sorts + scalar math",
    doc="Z-order clustering: interleave the bits of (custkey, order-day) "
        "into a Morton key via the magic-number spread (pure bitwise "
        "codegen, no UDF), range-bucket rows into 16 'files', and report "
        "per-file min/max of both dimensions — the skipping statistics. "
        "Z-clustered files have narrow ranges in BOTH columns, so a "
        "predicate on either prunes files; at scale the ntile becomes "
        "repartitionByRange(zval) and the stats land in the parquet "
        "footer for free.",
)
def q205_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        F.expr("o_custkey & 65535").alias("xb"),
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') & 65535"
        ).alias("yb"),
    )
    from sciencebeam_parser_spark.operators.global_rank import (
        with_global_rank,
    )

    z = keyed.withColumn("zval", F.expr(_ZVAL_SQL))
    # exact global ntile via the mode-gated rank operator: single-window
    # locally (this is the exact-boundary reference; see its doc), the
    # two-phase range-partitioned form in production
    filed = with_global_rank(
        z, ["zval", "o_orderkey"], out="file_id", ntile_n=16
    )
    return filed.groupBy(F.col("file_id").cast("int").alias("file_id")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("xb").cast("long").alias("min_cust"),
        F.max("xb").cast("long").alias("max_cust"),
        F.min("yb").cast("long").alias("min_day"),
        F.max("yb").cast("long").alias("max_day"),
        F.min("zval").cast("long").alias("min_z"),
        F.max("zval").cast("long").alias("max_z"),
    )


# --------------------------------------------------------------------------
# Snapshot diff (change data feed) + incremental aggregate maintenance
# --------------------------------------------------------------------------

@register(
    "q207_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
        -- price bump is +10 exactly: a multiplicative bump lands on .005
        -- halves where Spark (BigDecimal HALF_UP) and DuckDB (std::round
        -- of x*100) disagree; adding an integer never re-rounds
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 3 = 0
                    THEN round(o_totalprice, 2) + 10
                    ELSE round(o_totalprice, 2) END AS price
        FROM orders WHERE o_orderkey % 10 <> 0
    )
    SELECT COALESCE(o.k, n.k) AS o_orderkey,
           CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.price AS old_price, n.price AS new_price
    FROM old o FULL OUTER JOIN new n ON n.k = o.k
    WHERE o.k IS NULL OR n.k IS NULL OR o.price <> n.price
    """,
    survey_ref="engine-general change-data-feed: snapshot diff into "
               "insert/update/delete rows (the Delta/Iceberg CDF shape "
               "beside q178's MERGE upsert) — §2B full-outer join",
    doc="Change data feed between two table snapshots: one full-outer "
        "join on the key classifies every row as insert (new only), "
        "delete (old only), or update (both, value changed); unchanged "
        "rows drop out. The join shuffles both snapshots once on the "
        "key — at 100 TB both sides partition identically, so "
        "co-located (bucketed) snapshots diff with zero extra Exchange. "
        "Snapshots are deterministic key-mod slices of orders with a "
        "price bump on every third key.",
)
def q207_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.round("o_totalprice", 2).alias("price"),
    )
    new = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.round("o_totalprice", 2) + 10,
        )
        .otherwise(F.round("o_totalprice", 2))
        .alias("price"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("n.k") == F.col("o.k"), "full_outer")
    return joined.filter(
        F.col("o.k").isNull()
        | F.col("n.k").isNull()
        | (F.col("o.price") != F.col("n.price"))
    ).select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("o_orderkey"),
        F.when(F.col("o.k").isNull(), "insert")
        .when(F.col("n.k").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("o.price").alias("old_price"),
        F.col("n.price").alias("new_price"),
    )


@register(
    "q208_incremental_agg",
    # the oracle is the FULL recompute: passing the hash check proves the
    # base+delta partial-aggregate merge equals recomputation from scratch
    oracle="""
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id, event_type
    """,
    survey_ref="engine-general incremental view maintenance: merge a "
               "delta's partial aggregates into a materialized base "
               "(the algebraic-aggregate contract that makes streaming "
               "and batch agree) — §2B aggregations",
    doc="Incremental aggregate maintenance: the events feed splits into "
        "a materialized base (80%) and a late delta (20%); each side "
        "aggregates independently and the MERGE is a re-aggregation of "
        "the two partials (counts add, sums add) — never a rescan of "
        "the base fact. The oracle recomputes from scratch, so the hash "
        "match IS the proof that merge == recompute. At 100 TB this is "
        "the only affordable shape for daily-updated corpus statistics.",
)
def q208_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 5 != 0)
    delta = ev.filter(F.col("event_id") % 5 == 0)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").cast("long").alias("pn"),
            F.sum("value").alias("pv"),
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            F.round(F.sum("pv"), 2).alias("total_value"),
        )
    )
    return merged


# --------------------------------------------------------------------------
# Mergeable equi-width histogram sketch + quantile estimation
# --------------------------------------------------------------------------

_HIST_BINS = 128

# bin index and interpolated quantile share EXACT expression text between
# engines (the only floats: one subtraction/division pair per row for the
# bin, one fused interpolation per quantile).
_HIST_BIN_SQL = (
    f"least({_HIST_BINS - 1}, CAST(floor((l_extendedprice - lo)"
    f" / (hi - lo) * {_HIST_BINS}) AS BIGINT))"
)


def _hist_quantile_sql(p: str) -> str:
    """Interpolated quantile from cumulative bin counts: find the first
    bin whose cumulative count reaches p*n, then linearly interpolate
    inside it from the bin's preceding cumulative count."""
    return (
        f"lo + (qbin_{p} + (CAST({p} AS DOUBLE) / 100 * n_total"
        f" - cum_before_{p}) / bin_n_{p}) * ((hi - lo) / {_HIST_BINS})"
    )


@register(
    "q213_histogram_quantile_sketch",
    oracle=f"""
    WITH bounds AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
               CAST(count(*) AS BIGINT) AS n_total
        FROM lineitem
    ),
    binned AS (
        SELECT l_returnflag, {_HIST_BIN_SQL} AS bin
        FROM lineitem CROSS JOIN bounds
    ),
    partials AS (
        SELECT l_returnflag, bin, CAST(count(*) AS BIGINT) AS n
        FROM binned GROUP BY l_returnflag, bin
    ),
    merged AS (
        SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM partials GROUP BY bin
    ),
    cum AS (
        SELECT bin, n,
               sum(n) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               COALESCE(sum(n) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cb
        FROM merged
    ),
    picks AS (
        SELECT
          {", ".join(
            f'''min(CASE WHEN c * 100 >= {p} * n_total THEN bin END)
                  AS qbin_{p},
              min(CASE WHEN c * 100 >= {p} * n_total THEN cb END)
                  AS cum_before_{p},
              min(CASE WHEN c * 100 >= {p} * n_total THEN c END)
                - min(CASE WHEN c * 100 >= {p} * n_total THEN cb END)
                  AS bin_n_{p}''' for p in (50, 90, 99)
          )},
          CAST(count(*) AS BIGINT) AS n_bins_used
        FROM cum CROSS JOIN bounds
    )
    SELECT n_bins_used,
           (SELECT n_total FROM bounds) AS n_total,
           {", ".join(
               f"round({_hist_quantile_sql(str(p))}, 4) AS p{p}_est"
               for p in (50, 90, 99)
           )}
    FROM picks CROSS JOIN bounds
    """,
    survey_ref="engine-general ordered-statistic sketch: mergeable "
               "equi-width histogram with interpolated quantiles (the "
               "approx-percentile shape beside q47's exact sort-based "
               "percentiles; completes the sketch family with q115 KMV, "
               "q198 HLL, q209 CMS)",
    doc="Histogram quantile sketch: 128 equi-width bins over the global "
        "[min, max]; per-group partial histograms merge by ADDING bin "
        "counts (shown by merging the per-returnflag partials into the "
        "global sketch), then p50/p90/p99 interpolate inside the "
        "covering bin from cumulative counts. One map-side pass + a "
        "128-row fold at any scale — the two-pass exact percentile "
        "needs a sort per group; the sketch needs neither sort nor "
        "second pass, with error bounded by bin width.",
)
def q213_histogram_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("*").cast("long").alias("n_total"),
    )
    binned = li.crossJoin(F.broadcast(bounds)).select(
        "l_returnflag", F.expr(_HIST_BIN_SQL).alias("bin")
    )
    partials = binned.groupBy("l_returnflag", "bin").agg(
        F.count("*").cast("long").alias("n")
    )
    merged = partials.groupBy("bin").agg(F.sum("n").cast("long").alias("n"))
    w = W.orderBy("bin")
    cum = merged.select(
        "bin",
        "n",
        F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("c"),
        F.coalesce(
            F.sum("n").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("cb"),
    )
    pick_cols = []
    for p in (50, 90, 99):
        # the condition selects a SUFFIX of bins and bin/c/cb are all
        # monotone in bin, so the suffix-min of each is its value AT the
        # covering bin; the covering bin's own count is c - cb there
        # (min over the suffix of the raw n would pick the smallest later
        # bin instead — wrong under skew)
        cond = F.col("c") * 100 >= p * F.col("n_total")
        pick_cols += [
            F.min(F.when(cond, F.col("bin"))).alias(f"qbin_{p}"),
            F.min(F.when(cond, F.col("cb"))).alias(f"cum_before_{p}"),
            (
                F.min(F.when(cond, F.col("c")))
                - F.min(F.when(cond, F.col("cb")))
            ).alias(f"bin_n_{p}"),
        ]
    picks = cum.crossJoin(F.broadcast(bounds)).agg(
        *pick_cols, F.count("*").cast("long").alias("n_bins_used")
    )
    out = picks.crossJoin(F.broadcast(bounds))
    return out.select(
        "n_bins_used",
        "n_total",
        *[
            F.round(F.expr(_hist_quantile_sql(str(p))), 4).alias(f"p{p}_est")
            for p in (50, 90, 99)
        ],
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood dedup (join-free candidate generation)
# --------------------------------------------------------------------------

@register(
    "q214_sorted_neighborhood_dedup",
    oracle="""
    WITH ranked AS (
        SELECT p_partkey, p_name, p_brand,
               lag(p_partkey, 1) OVER w AS prev1_key,
               lag(p_name, 1) OVER w AS prev1_name,
               lag(p_brand, 1) OVER w AS prev1_brand,
               lag(p_partkey, 2) OVER w AS prev2_key,
               lag(p_name, 2) OVER w AS prev2_name,
               lag(p_brand, 2) OVER w AS prev2_brand
        FROM part
        WINDOW w AS (ORDER BY p_name, p_partkey)
    ),
    cand AS (
        SELECT prev1_key AS id_a, p_partkey AS id_b,
               prev1_name AS name_a, p_name AS name_b,
               levenshtein(prev1_name, p_name) AS name_dist,
               (prev1_brand = p_brand) AS brand_match
        FROM ranked WHERE prev1_key IS NOT NULL
        UNION ALL
        SELECT prev2_key, p_partkey, prev2_name, p_name,
               levenshtein(prev2_name, p_name),
               (prev2_brand = p_brand)
        FROM ranked WHERE prev2_key IS NOT NULL
    )
    SELECT id_a, id_b, name_a, name_b,
           CAST(name_dist AS BIGINT) AS name_dist, brand_match
    FROM cand
    WHERE name_dist <= 5 AND brand_match
    """,
    survey_ref="north-star structured dedup: sorted-neighborhood method "
               "— the window-based alternative to q201's blocking "
               "(candidates from sort adjacency, NO join at all)",
    doc="Sorted-neighborhood dedup: records sort once on the match key "
        "(name), and candidates are each row against its 2 sort "
        "predecessors via lag — a pure window, no join, no blocking "
        "table. Matches = close edit distance + brand agreement. At "
        "scale this is repartitionByRange + sortWithinPartitions with "
        "w-1 boundary rows replicated to the next partition; the "
        "candidate count is exactly (w-1)*n regardless of skew — the "
        "property blocking can't guarantee when a block explodes.",
)
def q214_sorted_neighborhood_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = table(spark, sf_dir, "part")
    w = W.orderBy("p_name", "p_partkey")
    ranked = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.lag("p_partkey", 1).over(w).alias("prev1_key"),
        F.lag("p_name", 1).over(w).alias("prev1_name"),
        F.lag("p_brand", 1).over(w).alias("prev1_brand"),
        F.lag("p_partkey", 2).over(w).alias("prev2_key"),
        F.lag("p_name", 2).over(w).alias("prev2_name"),
        F.lag("p_brand", 2).over(w).alias("prev2_brand"),
    )

    def side(i: int) -> DataFrame:
        return ranked.filter(F.col(f"prev{i}_key").isNotNull()).select(
            F.col(f"prev{i}_key").alias("id_a"),
            F.col("p_partkey").alias("id_b"),
            F.col(f"prev{i}_name").alias("name_a"),
            F.col("p_name").alias("name_b"),
            F.levenshtein(F.col(f"prev{i}_name"), F.col("p_name"))
            .cast("long")
            .alias("name_dist"),
            (F.col(f"prev{i}_brand") == F.col("p_brand")).alias("brand_match"),
        )

    cand = side(1).unionByName(side(2))
    return cand.filter((F.col("name_dist") <= 5) & F.col("brand_match"))


@register(
    "q221_hll_time_rollup",
    oracle=f"""
    WITH hashed AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM events
    ),
    split AS (
        SELECT event_type, day, h % 64 AS bucket, h // 64 AS rest FROM hashed
    ),
    daily_regs AS (
        SELECT event_type, day, bucket, max({_HLL_RHO_SQL}) AS r
        FROM split GROUP BY event_type, day, bucket
    ),
    merged AS (
        SELECT event_type, bucket, max(r) AS r
        FROM daily_regs GROUP BY event_type, bucket
    ),
    folded AS (
        SELECT event_type,
               sum(1::BIGINT << (55 - r))
                   + (64 - count(*)) * (1::BIGINT << 55) AS intsum,
               64 - count(*) AS zeros
        FROM merged GROUP BY event_type
    ),
    days AS (
        SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_days
        FROM hashed GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, CAST(count(DISTINCT h) AS BIGINT) AS exact
        FROM hashed GROUP BY event_type
    )
    SELECT f.event_type, d.n_days,
           round({_HLL_EST_SQL}, 3) AS estimate,
           e.exact
    FROM folded f
    JOIN days d ON d.event_type = f.event_type
    JOIN exact e ON e.event_type = f.event_type
    """,
    survey_ref="north-star corpus statistics: sketch ROLLUP over time — "
               "daily HLL registers merged to the full range with max(), "
               "proving the pre-aggregated-sketch serving pattern "
               "(complements q198's union-mergeability row)",
    doc="The production shape for distinct counts at 100 TB: persist 64 "
        "HLL registers per (event_type, day) — a few hundred bytes — and "
        "answer any date-range distinct query by max-merging registers, "
        "never rescanning raw events. Register merge is associative and "
        "commutative, so the daily partials ARE the partial aggregate; "
        "this query materializes the daily sketch table and folds it to "
        "the full-range estimate next to the exact count. Both "
        "aggregations are map-side combinable; the register table's key "
        "space is |types| x |days| x 64 — fixed and tiny.",
)
def q221_hll_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    hashed = ev.select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        h.alias("h"),
    )
    split = hashed.select(
        "event_type",
        "day",
        (F.col("h") % 64).alias("bucket"),
        F.shiftright("h", 6).alias("rest"),  # exact, not double division
    )
    daily_regs = split.groupBy("event_type", "day", "bucket").agg(
        F.max(F.expr(_HLL_RHO_SQL)).alias("r")
    )
    merged = daily_regs.groupBy("event_type", "bucket").agg(
        F.max("r").alias("r")
    )
    folded = merged.groupBy("event_type").agg(
        (
            F.sum(F.expr("CAST(1 AS BIGINT) << (55 - r)"))
            + (64 - F.count("*")) * F.lit(1 << 55)
        ).cast("long").alias("intsum"),
        (64 - F.count("*")).cast("long").alias("zeros"),
    )
    # the day count and the exact-distinct control rode two separate
    # scans (each re-hashing every user_id); one multi-distinct
    # aggregate (Catalyst's Expand) computes both in a single pass —
    # events is now scanned twice total (sketch chain + controls), not
    # three times (guide §1.2)
    aux = hashed.groupBy("event_type").agg(
        F.count_distinct("day").cast("long").alias("n_days"),
        F.count_distinct("h").cast("long").alias("exact"),
    )
    return (
        folded.join(aux, "event_type")
        .select(
            "event_type",
            "n_days",
            F.round(F.expr(_HLL_EST_SQL), 3).alias("estimate"),
            "exact",
        )
    )


@register(
    "q233_quantile_binning",
    # ntile(10) over (price, orderkey) — the total order makes the bin
    # boundaries deterministic on any engine; output is the 10-row bin
    # summary (count, min, max) a feature store would persist.
    oracle="""
    WITH binned AS (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                   AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM binned GROUP BY bucket
    """,
    survey_ref="engine-general feature engineering (§2B windows + "
               "aggregations): equi-depth quantile binning — the "
               "discretization step upstream of every tree/linear model",
    doc="Equi-depth feature binning: ntile(10) assigns each order to its "
        "price decile under a deterministic (price, orderkey) total "
        "order, and the bin summary (count, lo, hi) is what a feature "
        "store persists as the discretizer. The global sort is the "
        "documented cost: at 100 TB you'd swap ntile for the q213 "
        "histogram sketch's interpolated boundaries (one map-side "
        "pass, approximate); this query is the exact-boundary "
        "reference for that sketch.",
)
def q233_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.global_rank import (
        with_global_rank,
    )

    orders = table(spark, sf_dir, "orders")
    # mode-gated exact ntile (see global_rank.py): the two-phase form is
    # the production path; this query stays the exact-boundary reference
    return (
        with_global_rank(
            orders.select("o_totalprice", "o_orderkey"),
            ["o_totalprice", "o_orderkey"],
            out="bucket",
            ntile_n=10,
        )
        .select("o_totalprice", "bucket")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "q242_copurchase_lift",
    # market-basket co-occurrence: the lineitem self-join is co-partitioned
    # on the order key (one shuffle, bounded per-order quadratic), pair
    # supports aggregate map-side, and lift joins two broadcast-sized
    # single-item support relations back. Exact integer supports; lift is
    # a shared-shape double rounded 4dp; min support 3 prunes the tail.
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n_orders AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
    pair AS (
        SELECT a.pk AS pk_a, b.pk AS pk_b,
               CAST(count(*) AS BIGINT) AS support_ab
        FROM items a JOIN items b
          ON b.ok = a.ok AND b.pk > a.pk
        GROUP BY a.pk, b.pk
    ),
    single AS (
        SELECT pk, CAST(count(*) AS BIGINT) AS support FROM items GROUP BY pk
    )
    SELECT p.pk_a, p.pk_b, p.support_ab,
           sa.support AS support_a, sb.support AS support_b,
           round(CAST(p.support_ab AS DOUBLE) * n.n
                 / (sa.support * sb.support), 4) AS lift
    FROM pair p
    JOIN single sa ON sa.pk = p.pk_a
    JOIN single sb ON sb.pk = p.pk_b
    CROSS JOIN n_orders n
    WHERE p.support_ab >= 3
    """,
    survey_ref="engine-general market-basket analytics (§2B self-join + "
               "aggregations): co-occurrence supports and lift — the "
               "association-rule mining core",
    doc="Co-purchase lift over order baskets: distinct (order, part) "
        "pairs self-join on the order key (pk_b > pk_a halves the "
        "quadratic), pair supports >= 3 survive, and lift = "
        "P(ab)/(P(a)P(b)) joins the two single-item support relations "
        "back. Scale shape: the self-join shuffles BOTH sides on the "
        "order key once (bucketing makes it exchange-free on a real "
        "cluster), the per-order quadratic is bounded by basket size, "
        "and supports are map-side-combinable integer counts — the "
        "plan is Apriori's first pass as a dataflow.",
)
def q242_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # the distinct basket relation feeds four consumers (both self-join
    # sides, the single-item supports, and the broadcast n_orders count);
    # the broadcast build sides defeat exchange reuse, so the
    # scan+distinct subtree was embedded per branch. One lazy
    # localCheckpoint scans and dedups lineitem once (guide §1.2/§5).
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = items.agg(
        F.countDistinct("ok").cast("long").alias("n")
    )
    a = items.alias("a")
    b = items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("b.ok") == F.col("a.ok"))
            & (F.col("b.pk") > F.col("a.pk")),
        )
        .groupBy(
            F.col("a.pk").alias("pk_a"), F.col("b.pk").alias("pk_b")
        )
        .agg(F.count("*").cast("long").alias("support_ab"))
        .filter(F.col("support_ab") >= 3)
    )
    single = items.groupBy("pk").agg(
        F.count("*").cast("long").alias("support")
    )
    sa = single.select(
        F.col("pk").alias("pk_a"), F.col("support").alias("support_a")
    )
    sb = single.select(
        F.col("pk").alias("pk_b"), F.col("support").alias("support_b")
    )
    return (
        pair.join(sa, "pk_a")
        .join(sb, "pk_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pk_a",
            "pk_b",
            "support_ab",
            "support_a",
            "support_b",
            F.round(
                F.col("support_ab").cast("double")
                * F.col("n")
                / (F.col("support_a") * F.col("support_b")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "q244_rfm_segments",
    # RFM customer segmentation: per-user recency/frequency/monetary from
    # the purchase stream, each dimension cut into quintiles by ntile(5)
    # under a deterministic (metric, user_id) total order, segments
    # summarized. Integer metrics (days, counts, floor-cents) throughout.
    oracle="""
    WITH maxd AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
    rfm AS (
        SELECT user_id,
               CAST(d1 - max(CAST(ts AS DATE)) AS BIGINT) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM events, maxd
        WHERE event_type = 'purchase'
        GROUP BY user_id, d1
    ),
    scored AS (
        SELECT user_id,
               ntile(5) OVER (ORDER BY recency_days, user_id) AS r,
               ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f,
               ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m
        FROM rfm
    )
    SELECT r, f, m,
           CAST(count(*) AS BIGINT) AS n_users
    FROM scored GROUP BY r, f, m
    """,
    survey_ref="engine-general customer analytics (beside q186 retention, "
               "q237 A/B): RFM quintile segmentation — the warehouse "
               "workload every CRM export runs",
    doc="RFM segmentation: one purchase-stream aggregate computes "
        "per-user recency (days since last purchase, vs the corpus max "
        "date), frequency, and monetary floor-cents; three ntile(5) "
        "windows cut each dimension into quintiles (1 = best) under "
        "deterministic (metric, user_id) orders; segments summarize to "
        "at most 125 rows. The global ntile sorts are over the USER "
        "table (already one row per user), not the event stream — at "
        "100 TB you'd swap them for q213-style histogram boundaries, "
        "the same trade q233 documents.",
)
def q244_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    maxd = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    rfm = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(maxd))
        .groupBy("user_id", "d1")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_day"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .select(
            "user_id",
            F.datediff("d1", "last_day").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    from sciencebeam_parser_spark.operators.global_rank import (
        with_global_rank,
    )

    # three mode-gated exact quintiles (see global_rank.py) — the
    # two-phase form range-partitions per dimension in production
    scored = with_global_rank(
        with_global_rank(
            with_global_rank(
                rfm,
                ["recency_days", "user_id"],
                out="r",
                ntile_n=5,
            ),
            [F.desc("frequency"), F.asc("user_id")],
            out="f",
            ntile_n=5,
        ),
        [F.desc("monetary_cents"), F.asc("user_id")],
        out="m",
        ntile_n=5,
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").cast("long").alias("n_users")
    )


@register(
    "q251_winsorized_stats",
    # robust statistics: exact p05/p95 integer-cent boundaries per event
    # type via ordered row_number selection, values clamped into the
    # band, and the robust mean compared against the raw mean. All
    # boundary arithmetic is int64; only the display means divide.
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    ranked AS (
        SELECT event_type, cents,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    bounds AS (
        SELECT event_type,
               min(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT)
                        THEN cents END) AS lo,
               min(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                        THEN cents END) AS hi
        FROM ranked GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n,
           b.lo, b.hi,
           CAST(count(CASE WHEN v.cents < b.lo OR v.cents > b.hi
                      THEN 1 END) AS BIGINT) AS n_clamped,
           CAST(sum(CASE WHEN v.cents < b.lo THEN b.lo
                         WHEN v.cents > b.hi THEN b.hi
                         ELSE v.cents END) AS BIGINT) AS winsorized_sum,
           CAST(sum(v.cents) AS BIGINT) AS raw_sum
    FROM v JOIN bounds b ON b.event_type = v.event_type
    GROUP BY v.event_type, b.lo, b.hi
    """,
    survey_ref="engine-general robust statistics (beside q47 exact "
               "percentiles, q213 histogram sketch): winsorization — "
               "the outlier-clamping cleaning step upstream of every "
               "mean-based metric",
    doc="Winsorized statistics per event type: the exact 5th/95th "
        "percentile integer-cent boundaries come from ordered "
        "row_number selection (ceil(n*p) — the classic exact-quantile "
        "definition, deterministic on ties because cents are "
        "integers), every value clamps into the band, and the output "
        "carries both the winsorized and raw sums so the outlier "
        "distortion is visible. One event_type shuffle shared by the "
        "ranking window and the aggregate; at 100 TB the boundary pass "
        "would swap to the q213 sketch exactly as q233 documents.",
)
def q251_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    wn = W.partitionBy("event_type")
    # ties on cents stay ties — the rank-selected VALUE is tie-invariant,
    # so no secondary key is needed
    wr = wn.orderBy("cents")
    ranked = v.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.05).cast("long"),
                F.col("cents"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.95).cast("long"),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    clamped = F.when(F.col("cents") < F.col("lo"), F.col("lo")).when(
        F.col("cents") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("cents"))
    return (
        v.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count(
                F.when(
                    (F.col("cents") < F.col("lo"))
                    | (F.col("cents") > F.col("hi")),
                    1,
                )
            ).cast("long").alias("n_clamped"),
            F.sum(clamped).cast("long").alias("winsorized_sum"),
            F.sum("cents").cast("long").alias("raw_sum"),
        )
        .select(
            "event_type", "n", "lo", "hi",
            "n_clamped", "winsorized_sum", "raw_sum",
        )
    )


@register(
    "q252_benford_audit",
    # Benford's-law first-digit audit: observed leading-digit counts of
    # order totals vs the expected log10(1 + 1/d) distribution, with the
    # per-digit deviation in integer-scaled parts-per-10000. The fraud/
    # data-fabrication screen every financial DQ suite ships.
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders
        WHERE o_totalprice >= 0.01
    ),
    obs AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT sum(n) AS t FROM obs)
    SELECT o.d,
           o.n,
           CAST(floor(10000.0 * o.n / t.t) AS BIGINT) AS obs_bp,
           CAST(floor(10000 * log10(1.0 + 1.0 / o.d)) AS BIGINT)
               AS benford_bp
    FROM obs o CROSS JOIN tot t
    """,
    survey_ref="engine-general data-quality auditing (beside q204 "
               "constraints, q231 k-anonymity): Benford first-digit "
               "screening — the numeric-fabrication detector",
    doc="Benford's-law audit of order totals: leading digits of the "
        "integer-cent amounts aggregate to a 9-row distribution, "
        "reported in floor-scaled basis points beside the expected "
        "log10(1 + 1/d) mass. Both the observed and expected shares "
        "floor to integers so the comparison is engine-exact; the scan "
        "is one map-side-combinable aggregate over a 9-value key.",
)
def q252_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = F.substring(
        F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        # >= one cent: a sub-cent amount would floor to 0 cents, whose
        # leading digit 0 divides the Benford expectation by zero
        orders.filter(F.col("o_totalprice") >= 0.01)
        .select(d.alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        F.floor(10000.0 * F.col("n") / F.col("t")).cast("long").alias("obs_bp"),
        F.floor(10000 * F.log10(1.0 + 1.0 / F.col("d")))
        .cast("long")
        .alias("benford_bp"),
    )


# --------------------------------------------------------------------------
# Shard compaction planner (q257)
# --------------------------------------------------------------------------

_COMPACT_TARGET = 8_000  # target compacted shard size (chars; stand-in for bytes)


@register(
    "q257_compaction_plan",
    # the small-files problem: plan which undersized shards merge into
    # which compacted output file. Shards = the (source, lang) partition
    # cells of the corpus with their byte weight; the plan assigns each
    # shard (in deterministic key order) to bin floor(running_before /
    # target) — next-fit packing as ONE window running sum, the same
    # relational shape Delta/Iceberg OPTIMIZE planning reduces to.
    oracle=f"""
    WITH shards AS (
        SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY source, lang
    ),
    planned AS (
        SELECT source, lang, bytes,
               CAST(floor(
                   (sum(bytes) OVER (ORDER BY source, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - bytes) / {_COMPACT_TARGET}.0) AS BIGINT) AS bin_id
        FROM shards
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           min(source || '/' || lang) AS first_shard,
           max(source || '/' || lang) AS last_shard
    FROM planned GROUP BY bin_id
    """,
    survey_ref="warehouse surface: compaction planning (the OPTIMIZE / "
               "bin-packing pass over a small-files inventory) — beside "
               "q205 Z-order layout and q178 snapshot upsert",
    doc="Compaction planner: the shard inventory (one row per (source, "
        "lang) partition cell with its size) is packed next-fit into "
        "target-sized output files via a single running-sum window — "
        "bin = floor(cumulative-size-before / target) — then summarized "
        "per planned output file. The inventory is file-count-sized "
        "(thousands of rows at 100 TB, never corpus-sized), so the "
        "global-order window is cheap; the plan itself is what a "
        "foreachPartition rewrite job would consume. Deterministic on "
        "any engine: packing order is the (source, lang) key order.",
)
def q257_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    shards = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("bytes")
    )
    w = W.orderBy("source", "lang").rowsBetween(W.unboundedPreceding, 0)
    planned = shards.select(
        "source",
        "lang",
        "bytes",
        F.floor(
            (F.sum("bytes").over(w) - F.col("bytes")) / float(_COMPACT_TARGET)
        )
        .cast("long")
        .alias("bin_id"),
    )
    key = F.concat_ws("/", "source", "lang")
    return planned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_shards"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.min(key).alias("first_shard"),
        F.max(key).alias("last_shard"),
    )


# --------------------------------------------------------------------------
# Join-key skew audit (q258)
# --------------------------------------------------------------------------

_SKEW_BUCKETS = 32


@register(
    "q258_skew_audit",
    # the diagnostics pass a 100 TB pipeline runs BEFORE choosing a join
    # strategy: per-key frequency shares expose hot keys (salting / AQE
    # skew-join candidates), and simulated hash-partition loads (md5
    # bucket per user) quantify how far the partitioning is from
    # uniform. All exact integer arithmetic: shares in basis points.
    oracle=f"""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM events),
    hot AS (
        SELECT 'hot_key' AS section, event_type AS key,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    ),
    buckets AS (
        SELECT 'bucket' AS section,
               CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % {_SKEW_BUCKETS} AS VARCHAR) AS key,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 2
    ),
    skew AS (
        SELECT 'bucket_skew' AS section, 'max_over_avg' AS key,
               max(n) AS n
        FROM buckets
    )
    SELECT section, key, n,
           CAST(CASE WHEN section = 'bucket_skew'
                     THEN n * {_SKEW_BUCKETS} * 10000 // t
                     ELSE n * 10000 // t END AS BIGINT) AS share_bp
    FROM (SELECT * FROM hot UNION ALL
          SELECT * FROM buckets UNION ALL
          SELECT * FROM skew) u
    CROSS JOIN tot
    """,
    survey_ref="scale mechanics (beside q48 salted join, q209 heavy "
               "hitters): the join-key skew audit — hot-key shares + "
               "simulated hash-partition load distribution, the report "
               "that decides salting vs broadcast vs AQE skew-join",
    doc="Skew audit: one aggregate per section — per-key frequencies "
        "(hot keys by share, in exact basis points), md5-simulated "
        "hash-partition loads over the user key (engine-portable stand-"
        "in for Spark's murmur3 partitioner), and the max-over-average "
        "bucket-load ratio (10000 = perfectly uniform). Everything is "
        "map-side combinable one-pass aggregation; the bucket relation "
        "is partitioner-width, so the audit costs one scan regardless "
        "of corpus size.",
)
def q258_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.queries.text_ops import _md5_long

    ev = table(spark, sf_dir, "events")
    tot = ev.agg(F.count("*").cast("long").alias("t"))
    hot = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    ).select(F.lit("hot_key").alias("section"), "key", "n")
    buckets = (
        ev.select(
            (_md5_long(F.col("user_id").cast("string")) % _SKEW_BUCKETS)
            .cast("string")
            .alias("key")
        )
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("bucket").alias("section"), "key", "n")
        # partitioner-width relation referenced from two branches (the
        # section union AND the skew max): materialize once
        .localCheckpoint()
    )
    skew = buckets.agg(F.max("n").alias("n")).select(
        F.lit("bucket_skew").alias("section"),
        F.lit("max_over_avg").alias("key"),
        "n",
    )
    u = hot.unionByName(buckets).unionByName(skew)
    share = F.when(
        F.col("section") == "bucket_skew",
        (F.col("n") * _SKEW_BUCKETS * 10000).cast("long") / F.col("t"),
    ).otherwise((F.col("n") * 10000).cast("long") / F.col("t"))
    return u.crossJoin(F.broadcast(tot)).select(
        "section", "key", "n", F.floor(share).cast("long").alias("share_bp")
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time join (q260) and CDC apply with deletes (q261)
# --------------------------------------------------------------------------


@register(
    "q260_scd2_pit_join",
    # the consumer of q200's history: every transaction recovers the
    # dimension version that was valid AT ITS OWN timestamp — the
    # point-in-time (as-of) lookup that makes SCD2 history useful.
    # Containment is half-open [from, to): a same-day version change
    # resolves to the day's LAST version, uniquely.
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               lag(o_orderpriority) OVER w AS prev_p
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ),
    hist AS (
        SELECT o_custkey AS custkey, o_orderpriority AS priority,
               o_orderdate AS effective_from,
               lead(o_orderdate) OVER w AS effective_to,
               CAST(row_number() OVER w AS BIGINT) AS version
        FROM (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
              FROM ordered
              WHERE prev_p IS NULL OR o_orderpriority <> prev_p)
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    )
    SELECT h.version,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN hist h ON h.custkey = o.o_custkey
               AND o.o_orderdate >= h.effective_from
               AND (h.effective_to IS NULL
                    OR o.o_orderdate < h.effective_to)
    GROUP BY h.version
    """,
    survey_ref="warehouse surface: SCD2 point-in-time (as-of) fact-to-"
               "dimension attribution — the lookup q200's history "
               "exists to serve (beside q18 nearest join, q173 interval "
               "bin join)",
    doc="Point-in-time join: facts equi-join the SCD2 history on the "
        "dimension key with the half-open validity containment as a "
        "join residual — each fact matches exactly ONE version (same-"
        "day changes resolve to the day's last version). The join "
        "shuffles on the dimension key only, so history attribution "
        "is embarrassingly parallel; at extreme per-key version counts "
        "the q173 bin rewrite bounds the per-key scan. Revenue folds "
        "in exact floor-cents.",
)
def q260_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ordered = orders.withColumn("prev_p", F.lag("o_orderpriority").over(w))
    hist = (
        ordered.filter(
            F.col("prev_p").isNull()
            | (F.col("o_orderpriority") != F.col("prev_p"))
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("effective_from"),
            F.lead("o_orderdate").over(w).alias("effective_to"),
            F.row_number().over(w).cast("long").alias("version"),
        )
    )
    pit = orders.join(
        hist,
        (F.col("custkey") == F.col("o_custkey"))
        & (F.col("o_orderdate") >= F.col("effective_from"))
        & (
            F.col("effective_to").isNull()
            | (F.col("o_orderdate") < F.col("effective_to"))
        ),
    )
    return pit.groupBy("version").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


@register(
    "q261_cdc_apply",
    # applying a change-data feed WITH deletes: each order is an op on
    # its customer key (orderkey % 7 = 0 -> delete, % 3 = 0 -> update,
    # else insert/upsert), ordered by (date, orderkey). Final state =
    # last op per key; a trailing delete removes the key. One shuffle,
    # no join — the q178 upsert extended with the delete op class.
    oracle="""
    WITH feed AS (
        SELECT o_custkey AS k, o_orderpriority AS v,
               o_orderdate, o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'D'
                    WHEN o_orderkey % 3 = 0 THEN 'U'
                    ELSE 'I' END AS op
        FROM orders
    ),
    latest AS (
        SELECT k, v, op FROM (
            SELECT k, v, op, row_number() OVER (
                PARTITION BY k ORDER BY o_orderdate DESC, o_orderkey DESC
            ) AS rn
            FROM feed
        ) WHERE rn = 1
    )
    SELECT 'live' AS state, v AS priority,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(k) AS BIGINT) AS key_checksum
    FROM latest WHERE op <> 'D' GROUP BY v
    UNION ALL
    SELECT 'deleted', NULL, CAST(count(*) AS BIGINT),
           CAST(sum(k) AS BIGINT)
    FROM latest WHERE op = 'D'
    """,
    survey_ref="warehouse surface: CDC apply with deletes (the Delta/"
               "Iceberg MERGE of an I/U/D change feed into a keyed "
               "snapshot — q178's upsert completed with the delete op "
               "and q207's change classes as INPUT rather than output)",
    doc="Change-feed application: ops ride their natural order (date, "
        "seq) and final state is the per-key LAST op via one ranked "
        "window — a delete wins by removing the key, any other op wins "
        "with its value. One hash shuffle on the key, no join against "
        "the prior snapshot needed when the feed is complete; with a "
        "base snapshot this becomes q178's union-then-rank shape plus "
        "the delete filter. Output is the per-priority live-key audit "
        "and the deleted-key account, checksummed.",
)
def q261_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    feed = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderpriority").alias("v"),
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 3 == 0, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
    )
    w = W.partitionBy("k").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        feed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "v", "op")
        # referenced by BOTH output branches (live + deleted): materialize
        # the ranked window once instead of re-shuffling the feed per branch
        .localCheckpoint()
    )
    live = (
        latest.filter(F.col("op") != "D")
        .groupBy(F.col("v").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("k").cast("long").alias("key_checksum"),
        )
        .select(F.lit("live").alias("state"), "priority", "n_keys", "key_checksum")
    )
    deleted = latest.filter(F.col("op") == "D").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("k").cast("long").alias("key_checksum"),
    ).select(
        F.lit("deleted").alias("state"),
        F.lit(None).cast("string").alias("priority"),
        "n_keys",
        "key_checksum",
    )
    return live.unionByName(deleted)


# --------------------------------------------------------------------------
# Compaction executor (q297) — the q257 plan, executed (VERDICT r6 #8)
# --------------------------------------------------------------------------


@register(
    "q297_compaction_execute",
    # the OPTIMIZE verb on the q281/q283 manifest store: materialize a
    # deliberately-fragmented JSONL store (one shard per (source, lang)
    # cell — ~100 small files), bin-pack the undersized shards with
    # q257's next-fit running-sum plan, REWRITE them as one coalesced
    # file per bin, atomically swap the manifest, and prove content
    # equality by aggregating the post-swap read-back per planned bin.
    # target = (total+3) DIV 4 on both engines, so ~4-5 bins replace
    # ~100 cell files at any sf — all integer arithmetic.
    oracle="""
    WITH shards AS (
        SELECT source, lang,
               CAST(sum(n_chars) AS BIGINT) AS bytes,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source, lang
    ),
    tgt AS (SELECT CAST((sum(bytes) + 3) // 4 AS BIGINT) AS t FROM shards),
    planned AS (
        SELECT source, lang, bytes, n_docs,
               CAST((sum(bytes) OVER (ORDER BY source, lang
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - bytes) // tgt.t AS BIGINT) AS bin_id
        FROM shards, tgt
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bytes) AS BIGINT) AS total_chars,
           min(source || '/' || lang) AS first_cell,
           max(source || '/' || lang) AS last_cell
    FROM planned GROUP BY bin_id
    """,
    survey_ref="warehouse surface: compaction EXECUTION — the OPTIMIZE "
               "rewrite over a manifest-committed store (q257 plans the "
               "bins; this reads manifest-listed small shards, rewrites "
               "coalesced files, and atomically swaps the manifest — "
               "the Delta/Iceberg OPTIMIZE verb restated)",
    doc="Small-files compaction end-to-end: documents land as a "
        "manifest-committed JSONL store with one shard per (source, "
        "lang) partition cell (repartition on the cell key + "
        "partitionBy guarantees exactly one file per cell — the "
        "fragmented state a streaming sink leaves behind); the cell "
        "inventory is re-derived from the manifest-listed read-back, "
        "next-fit packed into target-sized bins via q257's single "
        "running-sum window (target = (total+3) DIV 4), and the "
        "rewrite tags each row with its bin through a broadcast join "
        "on the cell key, repartitions on bin_id and writes "
        "partitionBy(bin_id) — each bin lands wholly in one task, so "
        "the output is exactly one file per bin. The new manifest "
        "replaces the old via os.replace (readers see the old "
        "inventory or the new, never a torn one), the old shards are "
        "then deleted, and the returned per-bin aggregate comes from "
        "the POST-SWAP read-back — the oracle's restatement from the "
        "source table proves the rewrite moved every row exactly "
        "once. The plan/manifest stay file-inventory-sized (driver "
        "O(#files)); data moves only executor-side.",
)
def q297_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import os
    import shutil

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q297_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    before_dir = os.path.join(store, "before")
    manifest_path = os.path.join(store, "_MANIFEST.json")

    # 1. the fragmented store: one JSONL shard per (source, lang) cell
    (
        docs.select("doc_id", "n_chars", "source", "lang")
        .repartition("source", "lang")
        .write.partitionBy("source", "lang")
        .json(before_dir)
    )
    cells = sorted(
        os.path.relpath(os.path.dirname(p), store)
        for p in glob.glob(
            os.path.join(before_dir, "source=*", "lang=*", "part-*.json")
        )
    )
    files_before = len(
        glob.glob(os.path.join(before_dir, "source=*", "lang=*", "part-*.json"))
    )
    assert files_before == len(cells), "expected exactly one file per cell"
    with open(manifest_path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump({"shards": cells}, fh)
    os.replace(manifest_path + ".tmp", manifest_path)

    # 2. inventory + plan from the MANIFEST-LISTED read-back (the honest
    # OPTIMIZE input — not the original source table)
    with open(manifest_path, encoding="utf-8") as fh:
        listed = json.load(fh)["shards"]
    back = (
        spark.read.schema("doc_id bigint, n_chars bigint")
        .option("basePath", before_dir)
        .json([os.path.join(store, s) for s in listed])
    )
    inventory = back.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("bytes")
    )
    tgt = inventory.agg(
        F.expr("CAST((sum(bytes) + 3) DIV 4 AS BIGINT)").alias("t")
    )
    w = W.orderBy("source", "lang").rowsBetween(W.unboundedPreceding, 0)
    planned = (
        inventory.crossJoin(F.broadcast(tgt))
        .select(
            "source",
            "lang",
            F.expr(
                "CAST((sum(bytes) OVER (ORDER BY source, lang "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                "- bytes) DIV t AS BIGINT)"
            ).alias("bin_id"),
        )
    )
    # the plan is file-inventory-sized (one row per cell): collecting it
    # is the q257-documented exception, and the rewrite job consumes it
    # as a broadcast
    plan_rows = planned.collect()
    n_bins = max(r["bin_id"] for r in plan_rows) + 1
    assert n_bins < files_before, "compaction must reduce the file count"

    # 3. execute the rewrite: tag rows with their bin via broadcast join,
    # one task per bin, one output file per bin
    after_rel = "compact-g0001"
    after_dir = os.path.join(store, after_rel)
    tagged = back.join(
        F.broadcast(planned), ["source", "lang"]
    )
    (
        tagged.repartition(n_bins, "bin_id")
        .write.partitionBy("bin_id")
        .json(after_dir)
    )
    files_after = len(glob.glob(os.path.join(after_dir, "bin_id=*", "part-*.json")))
    assert files_after == n_bins, (
        f"expected one coalesced file per bin, got {files_after}/{n_bins}"
    )

    # 4. atomic manifest swap, then drop the old shards
    new_shards = sorted(
        os.path.relpath(os.path.dirname(p), store)
        for p in glob.glob(os.path.join(after_dir, "bin_id=*", "part-*.json"))
    )
    with open(manifest_path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump({"shards": new_shards}, fh)
    os.replace(manifest_path + ".tmp", manifest_path)
    shutil.rmtree(before_dir, ignore_errors=True)

    # 5. prove content equality from the POST-SWAP manifest read-back
    with open(manifest_path, encoding="utf-8") as fh:
        committed = json.load(fh)["shards"]
    compacted = (
        spark.read.schema("doc_id bigint, n_chars bigint, source string, lang string")
        .option("basePath", after_dir)
        .json([os.path.join(store, s) for s in committed])
    )
    key = F.concat_ws("/", "source", "lang")
    return compacted.groupBy(F.col("bin_id").cast("long").alias("bin_id")).agg(
        F.countDistinct("source", "lang").cast("long").alias("n_cells"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min(key).alias("first_cell"),
        F.max(key).alias("last_cell"),
    )


@register(
    "q299_manifest_delete_time_travel",
    # the DELETE verb on the manifest store, plus time travel: shards
    # carry (min_doc_id, max_doc_id, n_rows) stats in the manifest, a
    # range deletion prunes to ONLY the overlapping shards and rewrites
    # just those; the new manifest shares every untouched shard file
    # with the old one (structural sharing), the HEAD pointer swaps
    # atomically, and BOTH versions stay readable. Result = per-lang
    # aggregate at version 0 (pre-delete) UNION version 1 (post-delete);
    # the deletion range is pure integer arithmetic on min/max(doc_id).
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    r AS (SELECT mn + (mx - mn) // 4 AS a, mn + (mx - mn) // 2 AS z FROM b)
    SELECT CAST(0 AS BIGINT) AS version, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS version, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents, r WHERE doc_id < r.a OR doc_id > r.z
    GROUP BY lang
    """,
    survey_ref="warehouse surface: targeted-rewrite DELETE with "
               "manifest column-stats file skipping + snapshot time "
               "travel (the Delta/Iceberg DELETE + VERSION AS OF verbs) "
               "— completes the store trilogy with q283's commit "
               "protocol and q297's OPTIMIZE",
    doc="Manifest-stats DELETE + time travel: documents land as 16 "
        "doc_id-ranged JSONL shards whose manifest entries carry "
        "(min_doc_id, max_doc_id, n_rows) stats; a GDPR-style range "
        "deletion consults ONLY the stats to prune the affected shard "
        "set (asserted strictly smaller than the store), reads and "
        "rewrites JUST those shards, and publishes manifest v1 listing "
        "rewritten shards beside the untouched originals — byte-level "
        "structural sharing, old shards never copied or touched. The "
        "HEAD pointer swaps via os.replace; version 0 remains fully "
        "readable (snapshot isolation), and the returned DataFrame "
        "aggregates BOTH versions' manifest read-backs, so the oracle "
        "proves the delete removed exactly the range from v1 while v0 "
        "still serves the pre-delete corpus. Work is O(affected "
        "shards) + O(#files) driver-side — never a table rewrite.",
)
def q299_manifest_delete_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import json
    import os
    import shutil

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q299_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    # one fused probe for the id span (gate-probe discipline)
    span = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = span["mn"], span["mx"]
    step = (mx - mn) // 16 + 1
    a = mn + (mx - mn) // 4
    z = mn + (mx - mn) // 2

    # v0: 16 doc_id-ranged shards, one file each, stats in the manifest
    base_rel = "gen0"
    (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            ((F.col("doc_id") - F.lit(mn)) / F.lit(step))
            .cast("long")
            .alias("shard"),
        )
        .repartition(16, "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, base_rel))
    )

    def shard_entries(gen_rel, shard_dirs):
        paths = sorted(shard_dirs)
        stats = (
            spark.read.schema("doc_id bigint, lang string, n_chars bigint")
            .option("basePath", os.path.join(store, gen_rel))
            .json([os.path.join(store, gen_rel, p) for p in paths])
            .groupBy("shard")
            .agg(
                F.min("doc_id").alias("mn"),
                F.max("doc_id").alias("mx"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_shard = {r["shard"]: r for r in stats}
        return [
            {
                "path": os.path.join(gen_rel, p),
                "min_doc_id": by_shard[int(p.split("=")[1])]["mn"],
                "max_doc_id": by_shard[int(p.split("=")[1])]["mx"],
                "n_rows": by_shard[int(p.split("=")[1])]["n"],
            }
            for p in paths
            if int(p.split("=")[1]) in by_shard
        ]

    gen0_dirs = [
        os.path.basename(d)
        for d in glob.glob(os.path.join(store, base_rel, "shard=*"))
    ]
    v0 = shard_entries(base_rel, gen0_dirs)

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        read_version as manifest_read_version,
    )

    def commit(version, entries):
        # optimistic concurrency: version files are immutable PUT-IF-
        # ABSENT creates — a racing writer raises ManifestConflictError
        # and must retry against the winner's snapshot
        commit_version(store, version, entries)

    commit(0, v0)

    # DELETE doc_id BETWEEN a AND z: stats-prune to overlapping shards
    affected = [
        e for e in v0 if not (e["max_doc_id"] < a or e["min_doc_id"] > z)
    ]
    untouched = [e for e in v0 if e not in affected]
    assert 0 < len(affected) < len(v0), (
        f"stats skipping must prune: {len(affected)}/{len(v0)} shards"
    )

    gen1_rel = "gen1"
    (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("basePath", os.path.join(store, base_rel))
        .json([os.path.join(store, e["path"]) for e in affected])
        .filter((F.col("doc_id") < a) | (F.col("doc_id") > z))
        .repartition(len(affected), "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, gen1_rel))
    )
    gen1_dirs = [
        os.path.basename(d)
        for d in glob.glob(os.path.join(store, gen1_rel, "shard=*"))
    ]
    # v1 = untouched originals (structural sharing — same files) +
    # rewritten survivors; a fully-deleted shard simply drops out
    v1 = untouched + shard_entries(gen1_rel, gen1_dirs)
    commit(1, v1)
    # time travel invariant: every v0 shard file still exists untouched
    for e in v0:
        assert os.path.isdir(os.path.join(store, e["path"]))

    def read_version(version):
        entries = manifest_read_version(store, version)
        return spark.read.schema(
            "doc_id bigint, lang string, n_chars bigint"
        ).json([os.path.join(store, e["path"]) for e in entries])

    def agg(df, version):
        return df.groupBy("lang").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).select(
            F.lit(version).cast("long").alias("version"),
            "lang",
            "n_docs",
            "total_chars",
        )

    return agg(read_version(0), 0).unionByName(agg(read_version(1), 1))


@register(
    "q300_manifest_merge_upsert",
    # MERGE completes the manifest-store verb set (q283 commit, q297
    # OPTIMIZE, q299 DELETE + time travel): an arriving change feed —
    # UPDATEs touching a contiguous doc_id range (n_chars + 1000) plus
    # INSERTs of brand-new ids (shifted copies of every 11th doc with
    # doubled n_chars) — merges into the ranged-shard store. The stats
    # prune the rewrite to ONLY the shards overlapping the update range;
    # inserts append as fresh shards; untouched shards carry over
    # by-reference into manifest v1. Both versions aggregate under one
    # oracle: v0 = the source table, v1 = the merged restatement.
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    r AS (SELECT mn + (mx - mn) // 4 AS a, mn + (mx - mn) // 2 AS z FROM b)
    SELECT CAST(0 AS BIGINT) AS version, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS version, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT lang,
               CASE WHEN doc_id BETWEEN r.a AND r.z
                    THEN n_chars + 1000 ELSE n_chars END AS n_chars
        FROM documents, r
        UNION ALL
        SELECT lang, n_chars * 2
        FROM documents, b WHERE doc_id % 11 = 0
    ) GROUP BY lang
    """,
    survey_ref="warehouse surface: MERGE INTO the manifest store — "
               "stats-pruned update rewrite + insert append under one "
               "atomic version commit (the Delta/Iceberg MERGE verb; "
               "reference analog: the training cache that updates "
               "changed docs and appends new ones, "
               "training/cli/generate_data.py:51-56)",
    doc="Manifest MERGE: the v0 store is 16 doc_id-ranged JSONL shards "
        "with (min, max, n_rows) stats; the change feed carries "
        "UPDATEs for a contiguous key range and INSERTs with keys past "
        "the current max. Stats prune the update rewrite to only the "
        "overlapping shards (asserted strictly smaller than the "
        "store); those shards re-land with the update applied via an "
        "equi-join against the change rows (the honest MERGE shape — "
        "at scale the join co-partitions change rows with their target "
        "shards); inserts write as fresh shards beyond the existing "
        "ranges. Manifest v1 = untouched-by-reference + rewritten + "
        "appended, committed atomically with the HEAD swap; v0 stays "
        "readable. Work is O(affected shards + inserts), never a "
        "table rewrite; the two-version aggregate under one oracle "
        "proves exactly-once application of both change classes.",
)
def q300_manifest_merge_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import json
    import os
    import shutil

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q300_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    span = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = span["mn"], span["mx"]
    step = (mx - mn) // 16 + 1
    a = mn + (mx - mn) // 4
    z = mn + (mx - mn) // 2

    shard_col = ((F.col("doc_id") - F.lit(mn)) / F.lit(step)).cast(
        "long"
    )

    def write_gen(df, gen_rel, n_parts):
        (
            df.withColumn("shard", shard_col)
            .repartition(n_parts, "shard")
            .write.partitionBy("shard")
            .json(os.path.join(store, gen_rel))
        )

    def shard_entries(gen_rel):
        dirs = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(store, gen_rel, "shard=*"))
        )
        if not dirs:
            return []
        stats = (
            spark.read.schema("doc_id bigint, lang string, n_chars bigint")
            .option("basePath", os.path.join(store, gen_rel))
            .json([os.path.join(store, gen_rel, d) for d in dirs])
            .groupBy("shard")
            .agg(
                F.min("doc_id").alias("mn"),
                F.max("doc_id").alias("mx"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_shard = {r["shard"]: r for r in stats}
        return [
            {
                "path": os.path.join(gen_rel, d),
                "min_doc_id": by_shard[int(d.split("=")[1])]["mn"],
                "max_doc_id": by_shard[int(d.split("=")[1])]["mx"],
                "n_rows": by_shard[int(d.split("=")[1])]["n"],
            }
            for d in dirs
            if int(d.split("=")[1]) in by_shard
        ]

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        read_version as manifest_read_version,
    )

    def commit(version, entries):
        # optimistic concurrency: version files are immutable PUT-IF-
        # ABSENT creates — a racing writer raises ManifestConflictError
        # and must retry against the winner's snapshot
        commit_version(store, version, entries)

    write_gen(docs.select("doc_id", "lang", "n_chars"), "gen0", 16)
    v0 = shard_entries("gen0")
    commit(0, v0)

    # the change feed: updates for [a, z], inserts past mx
    updates = docs.filter(
        (F.col("doc_id") >= a) & (F.col("doc_id") <= z)
    ).select("doc_id", (F.col("n_chars") + 1000).alias("new_n_chars"))
    inserts = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(mx) + 1).alias("doc_id"),
        "lang",
        (F.col("n_chars") * 2).alias("n_chars"),
    )

    # stats-pruned UPDATE rewrite: only shards overlapping [a, z]
    affected = [
        e for e in v0 if not (e["max_doc_id"] < a or e["min_doc_id"] > z)
    ]
    untouched = [e for e in v0 if e not in affected]
    assert 0 < len(affected) < len(v0), (
        f"stats skipping must prune: {len(affected)}/{len(v0)}"
    )
    merged = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("basePath", os.path.join(store, "gen0"))
        .json([os.path.join(store, e["path"]) for e in affected])
        .join(updates, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("new_n_chars", "n_chars").alias("n_chars"),
        )
    )
    write_gen(merged, "gen1-upd", len(affected))
    # INSERT append: brand-new key ranges land as fresh shards
    write_gen(inserts, "gen1-ins", 4)

    v1 = untouched + shard_entries("gen1-upd") + shard_entries("gen1-ins")
    commit(1, v1)
    for e in v0:  # time travel invariant
        assert os.path.isdir(os.path.join(store, e["path"]))

    def read_version(version):
        entries = manifest_read_version(store, version)
        return spark.read.schema(
            "doc_id bigint, lang string, n_chars bigint"
        ).json([os.path.join(store, e["path"]) for e in entries])

    def agg(df, version):
        return (
            df.groupBy("lang")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
            .select(
                F.lit(version).cast("long").alias("version"),
                "lang",
                "n_docs",
                "total_chars",
            )
        )

    return agg(read_version(0), 0).unionByName(agg(read_version(1), 1))


@register(
    "q301_manifest_vacuum",
    # VACUUM closes the manifest-store verb set (commit q283, OPTIMIZE
    # q297, DELETE + time travel q299, MERGE q300): after a
    # stats-pruned range delete produces v1, vacuum(retain=1) drops the
    # expired v0 manifest and physically removes every shard no kept
    # version references — fully-deleted shards and the pre-rewrite
    # originals — while shards shared into v1 survive untouched. The
    # oracle aggregates the post-vacuum HEAD read-back: content is
    # provably unchanged by vacuum; only expired history went away.
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    r AS (SELECT mn + (mx - mn) // 4 AS a, mn + (mx - mn) // 2 AS z FROM b)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents, r WHERE doc_id < r.a OR doc_id > r.z
    GROUP BY lang
    """,
    survey_ref="warehouse surface: VACUUM — retention-bounded physical "
               "removal of unreferenced shards + expired version "
               "manifests (the Delta VACUUM / Iceberg expire_snapshots "
               "verb), completing the store verb set",
    doc="Manifest VACUUM: the q299 flow (ranged shards with stats, "
        "range DELETE via pruned rewrite, v1 beside a still-readable "
        "v0) followed by vacuum(retain=1): the live-file set is the "
        "union of shards referenced by the RETAINED manifests; every "
        "other shard dir — fully-deleted ranges and pre-rewrite "
        "originals — is physically removed and the expired v0 manifest "
        "deleted, so time travel past the retention window is "
        "deliberately gone while every retained-version read is "
        "byte-identical to before. In-query asserts pin that orphans "
        "were actually removed, that every HEAD-referenced shard "
        "survived, and that the expired manifest no longer resolves; "
        "the oracle proves vacuum changed no live content. Work is "
        "O(#files) driver-side listing + unlink — data never moves.",
)
def q301_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import os
    import shutil

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        manifest_path,
        read_head,
        read_version as manifest_read_version,
    )

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q301_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    span = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = span["mn"], span["mx"]
    step = (mx - mn) // 16 + 1
    a = mn + (mx - mn) // 4
    z = mn + (mx - mn) // 2

    (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            ((F.col("doc_id") - F.lit(mn)) / F.lit(step))
            .cast("long")
            .alias("shard"),
        )
        .repartition(16, "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, "gen0"))
    )

    def shard_entries(gen_rel):
        dirs = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(store, gen_rel, "shard=*"))
        )
        if not dirs:
            return []
        stats = (
            spark.read.schema("doc_id bigint, lang string, n_chars bigint")
            .option("basePath", os.path.join(store, gen_rel))
            .json([os.path.join(store, gen_rel, d) for d in dirs])
            .groupBy("shard")
            .agg(
                F.min("doc_id").alias("mn"),
                F.max("doc_id").alias("mx"),
            )
            .collect()
        )
        by_shard = {r["shard"]: r for r in stats}
        return [
            {
                "path": os.path.join(gen_rel, d),
                "min_doc_id": by_shard[int(d.split("=")[1])]["mn"],
                "max_doc_id": by_shard[int(d.split("=")[1])]["mx"],
            }
            for d in dirs
            if int(d.split("=")[1]) in by_shard
        ]

    v0 = shard_entries("gen0")
    commit_version(store, 0, v0)
    affected = [
        e for e in v0 if not (e["max_doc_id"] < a or e["min_doc_id"] > z)
    ]
    untouched = [e for e in v0 if e not in affected]
    (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("basePath", os.path.join(store, "gen0"))
        .json([os.path.join(store, e["path"]) for e in affected])
        .filter((F.col("doc_id") < a) | (F.col("doc_id") > z))
        .repartition(max(1, len(affected)), "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, "gen1"))
    )
    commit_version(store, 1, untouched + shard_entries("gen1"))

    # ---- VACUUM(retain=1): drop expired manifests + unreferenced shards
    head = read_head(store)
    retained = [head]
    live = {
        e["path"] for v in retained for e in manifest_read_version(store, v)
    }
    all_shards = {
        os.path.relpath(d, store)
        for d in glob.glob(os.path.join(store, "gen*", "shard=*"))
    }
    orphans = all_shards - live
    assert orphans, "a delete must strand at least one unreferenced shard"
    for rel in orphans:
        shutil.rmtree(os.path.join(store, rel))
    expired = [
        v
        for v in range(head)
        if os.path.exists(manifest_path(store, v)) and v not in retained
    ]
    assert expired == [0]
    for v in expired:
        os.remove(manifest_path(store, v))

    # post-vacuum invariants: every retained shard survives, expired
    # history is gone
    for e in manifest_read_version(store, head):
        assert os.path.isdir(os.path.join(store, e["path"]))
    assert not os.path.exists(manifest_path(store, 0))

    entries = manifest_read_version(store, head)
    back = spark.read.schema(
        "doc_id bigint, lang string, n_chars bigint"
    ).json([os.path.join(store, e["path"]) for e in entries])
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "q303_manifest_schema_evolution",
    # ADD COLUMN on the manifest store (the Delta/Iceberg schema-
    # evolution verb): v0 shards carry (doc_id, lang, n_chars); v1
    # appends shards written under an EVOLVED schema with a new
    # `quality` column, and the manifest records each entry's schema
    # version. A HEAD read merges the generations: old shards backfill
    # quality as NULL — no data rewrite, ever. The oracle restates the
    # split (old half / new half by doc_id midpoint) and the NULL
    # backfill with integer arithmetic.
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    s AS (SELECT mn + (mx - mn) // 2 AS sp FROM b)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id >= s.sp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_quality,
           CAST(coalesce(sum(CASE WHEN doc_id >= s.sp
                                  THEN n_chars % 97 END), 0)
                AS BIGINT) AS sum_quality
    FROM documents, s
    GROUP BY lang
    """,
    survey_ref="warehouse surface: schema evolution — ADD COLUMN as a "
               "manifest-metadata commit with NULL backfill on read "
               "(the Delta mergeSchema / Iceberg add-column verb), "
               "extending the q297-q302 verb set",
    doc="Manifest schema evolution: the older corpus half lands as v0 "
        "shards under schema s1 (doc_id, lang, n_chars); the newer "
        "half arrives AFTER an ADD COLUMN and lands as v1 shards under "
        "schema s2 (+ quality = n_chars % 97, exact int64). Each "
        "manifest entry records its schema tag; committing v1 is "
        "metadata-only for the old files — no rewrite. The HEAD read "
        "back-fills quality as NULL for s1 entries and unions by name "
        "(exactly Spark's own mergeSchema semantics, restated on the "
        "store's terms), then aggregates per lang: total rows, rows "
        "carrying the new column, and its exact integer sum. At scale "
        "this is the only affordable ADD COLUMN — backfill-on-read "
        "costs nothing until an OPTIMIZE naturally rewrites old "
        "shards into the new schema.",
)
def q303_manifest_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import os
    import shutil

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        read_head,
        read_version as manifest_read_version,
    )

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q303_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    span = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = span["mn"], span["mx"]
    sp = mn + (mx - mn) // 2

    schema_v1 = "doc_id bigint, lang string, n_chars bigint"
    schema_v2 = schema_v1 + ", quality bigint"

    def write_gen(df, gen_rel, n_parts):
        (
            df.repartition(n_parts, "doc_id")
            .write.mode("overwrite")
            .json(os.path.join(store, gen_rel))
        )
        return [
            os.path.relpath(p, store)
            for p in sorted(
                glob.glob(os.path.join(store, gen_rel, "part-*"))
            )
        ]

    # v0: the pre-evolution half under schema s1
    old_files = write_gen(
        docs.filter(F.col("doc_id") < sp).select(
            "doc_id", "lang", "n_chars"
        ),
        "gen0",
        4,
    )
    v0 = [{"path": p, "schema": "s1"} for p in old_files]
    commit_version(store, 0, v0)

    # ADD COLUMN quality, then the newer half arrives under schema s2.
    # v1 = all v0 entries BY REFERENCE (metadata-only evolution — the
    # old files are never rewritten) + the new-schema shards.
    new_files = write_gen(
        docs.filter(F.col("doc_id") >= sp).select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("n_chars") % 97).alias("quality"),
        ),
        "gen1",
        4,
    )
    v1 = v0 + [{"path": p, "schema": "s2"} for p in new_files]
    commit_version(store, 1, v1)
    for e in v0:  # evolution is metadata-only: old files untouched
        assert os.path.exists(os.path.join(store, e["path"]))

    # HEAD read: per-entry schema, NULL backfill for pre-evolution files
    entries = manifest_read_version(store, read_head(store))
    s1_paths = [
        os.path.join(store, e["path"]) for e in entries if e["schema"] == "s1"
    ]
    s2_paths = [
        os.path.join(store, e["path"]) for e in entries if e["schema"] == "s2"
    ]
    olds = (
        spark.read.schema(schema_v1)
        .json(s1_paths)
        .withColumn("quality", F.lit(None).cast("long"))
    )
    news = spark.read.schema(schema_v2).json(s2_paths)
    merged = olds.unionByName(news)
    return merged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("quality").cast("long").alias("n_with_quality"),
        F.coalesce(F.sum("quality"), F.lit(0))
        .cast("long")
        .alias("sum_quality"),
    )


@register(
    "q304_manifest_change_data_feed",
    # the Change Data Feed verb (Delta CDF / Iceberg changelog): a MERGE
    # into the manifest store ALSO emits its row-level change feed —
    # update_preimage / update_postimage / insert rows — as committed
    # _change_data shards keyed to the version that produced them, so
    # downstream incremental consumers (a streaming dedup index, a
    # feature store, an index rebuild) replay exactly what changed
    # without diffing table versions. The result is the read-back of
    # the committed feed; the oracle restates all three change classes.
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    r AS (SELECT mn + (mx - mn) // 4 AS a, mn + (mx - mn) // 2 AS z,
                 mx FROM b)
    SELECT doc_id, 'update_preimage' AS change_type,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents, r WHERE doc_id BETWEEN r.a AND r.z
    UNION ALL
    SELECT doc_id, 'update_postimage' AS change_type,
           CAST(n_chars + 1000 AS BIGINT) AS n_chars
    FROM documents, r WHERE doc_id BETWEEN r.a AND r.z
    UNION ALL
    SELECT doc_id + r.mx + 1 AS doc_id, 'insert' AS change_type,
           CAST(n_chars * 3 AS BIGINT) AS n_chars
    FROM documents, r WHERE doc_id % 7 = 0
    """,
    survey_ref="warehouse surface: MERGE with Change Data Feed — "
               "row-level preimage/postimage/insert emission committed "
               "beside the version that produced it (the Delta CDF "
               "verb), feeding incremental consumers like q296's "
               "streaming dedup index",
    doc="Change data feed: the q300 MERGE (range updates + key-shifted "
        "inserts) additionally writes its row-level changes as "
        "_change_data JSONL shards partitioned by change_type, and the "
        "commit for table v1 records the feed files alongside the data "
        "entries. Preimages come from the SAME stats-pruned shard read "
        "the update rewrite uses (no second scan class), postimages "
        "from the applied join, inserts from the append set. The "
        "returned DataFrame is the committed feed's read-back — "
        "proving the feed is durable and replayable, not a by-product "
        "kept in memory. At 100 TB the CDF is what makes downstream "
        "incremental maintenance O(changes) instead of O(table-diff).",
)
def q304_manifest_change_data_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import os
    import shutil

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        read_head,
        read_version as manifest_read_version,
    )

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q304_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    span = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = span["mn"], span["mx"]
    step = (mx - mn) // 16 + 1
    a = mn + (mx - mn) // 4
    z = mn + (mx - mn) // 2

    # v0: ranged shards with stats (the q299/q300 store shape)
    (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            ((F.col("doc_id") - F.lit(mn)) / F.lit(step))
            .cast("long")
            .alias("shard"),
        )
        .repartition(16, "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, "gen0"))
    )

    def shard_entries(gen_rel):
        dirs = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(store, gen_rel, "shard=*"))
        )
        if not dirs:
            return []
        stats = (
            spark.read.schema("doc_id bigint, lang string, n_chars bigint")
            .option("basePath", os.path.join(store, gen_rel))
            .json([os.path.join(store, gen_rel, d) for d in dirs])
            .groupBy("shard")
            .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
            .collect()
        )
        by_shard = {r["shard"]: r for r in stats}
        return [
            {
                "path": os.path.join(gen_rel, d),
                "min_doc_id": by_shard[int(d.split("=")[1])]["mn"],
                "max_doc_id": by_shard[int(d.split("=")[1])]["mx"],
            }
            for d in dirs
            if int(d.split("=")[1]) in by_shard
        ]

    v0 = shard_entries("gen0")
    commit_version(store, 0, v0)

    updates = docs.filter(
        (F.col("doc_id") >= a) & (F.col("doc_id") <= z)
    ).select("doc_id", (F.col("n_chars") + 1000).alias("new_n_chars"))
    inserts = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(mx) + 1).alias("doc_id"),
        "lang",
        (F.col("n_chars") * 3).alias("n_chars"),
    )

    # stats-pruned update rewrite (one read serves BOTH the rewrite and
    # the preimage side of the feed)
    affected = [
        e for e in v0 if not (e["max_doc_id"] < a or e["min_doc_id"] > z)
    ]
    untouched = [e for e in v0 if e not in affected]
    assert 0 < len(affected) < len(v0)
    affected_rows = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("basePath", os.path.join(store, "gen0"))
        .json([os.path.join(store, e["path"]) for e in affected])
        .join(updates, "doc_id", "left")
        .localCheckpoint()  # one scan feeds rewrite + preimage + postimage
    )
    merged = affected_rows.select(
        "doc_id", "lang", F.coalesce("new_n_chars", "n_chars").alias("n_chars"),
        "shard",
    )
    (
        merged.repartition(len(affected), "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, "gen1-upd"))
    )
    (
        inserts.withColumn(
            "shard",
            ((F.col("doc_id") - F.lit(mn)) / F.lit(step)).cast("long"),
        )
        .repartition(4, "shard")
        .write.partitionBy("shard")
        .json(os.path.join(store, "gen1-ins"))
    )

    # the change feed: preimage/postimage from the touched rows only,
    # inserts verbatim — written partitioned by change_type and
    # committed as _change_data entries on version 1
    touched = affected_rows.filter(F.col("new_n_chars").isNotNull())
    feed = (
        touched.select(
            "doc_id",
            F.lit("update_preimage").alias("change_type"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .unionByName(
            touched.select(
                "doc_id",
                F.lit("update_postimage").alias("change_type"),
                F.col("new_n_chars").cast("long").alias("n_chars"),
            )
        )
        .unionByName(
            inserts.select(
                "doc_id",
                F.lit("insert").alias("change_type"),
                F.col("n_chars").cast("long").alias("n_chars"),
            )
        )
    )
    feed_rel = "_change_data/v1"
    (
        feed.repartition(3, "change_type")
        .write.partitionBy("change_type")
        .json(os.path.join(store, feed_rel))
    )
    feed_entries = [
        {"path": os.path.relpath(d, store), "change_data": True}
        for d in sorted(
            glob.glob(os.path.join(store, feed_rel, "change_type=*"))
        )
    ]
    v1 = (
        untouched
        + shard_entries("gen1-upd")
        + shard_entries("gen1-ins")
        + feed_entries
    )
    commit_version(store, 1, v1)

    # the deliverable is the COMMITTED feed's read-back
    entries = manifest_read_version(store, read_head(store))
    cdf_paths = [
        os.path.join(store, e["path"])
        for e in entries
        if e.get("change_data")
    ]
    assert len(cdf_paths) == 3  # one cell per change class
    return (
        spark.read.schema("doc_id bigint, n_chars bigint")
        .option("basePath", os.path.join(store, feed_rel))
        .json(cdf_paths)
        .select("doc_id", F.col("change_type").cast("string"), "n_chars")
    )


@register(
    "q305_manifest_shallow_clone",
    # the SHALLOW CLONE verb (Delta CLONE / Iceberg snapshot ref): a new
    # table whose manifest REFERENCES the source's shard files — zero
    # data copied — after which the clone evolves independently (here: a
    # stats-pruned range DELETE) by rewriting only what it touches into
    # its OWN directory. The source's files and HEAD are byte-untouched
    # throughout (asserted), proving isolation-by-reference. Result =
    # both tables' HEAD read-backs under one oracle.
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    r AS (SELECT mn + (mx - mn) // 4 AS a, mn + (mx - mn) // 2 AS z FROM b)
    SELECT 'source' AS tbl, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'clone' AS tbl, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents, r WHERE doc_id < r.a OR doc_id > r.z
    GROUP BY lang
    """,
    survey_ref="warehouse surface: SHALLOW CLONE — zero-copy table "
               "branching via manifest file references, with "
               "copy-on-write divergence (the Delta CLONE verb; the "
               "dev/test-on-production-data and experiment-branching "
               "pattern), extending the q297-q304 verb set",
    doc="Shallow clone: the source store is 16 doc_id-ranged stat-"
        "carrying JSONL shards at v0; CLONE commits a new store whose "
        "v0 entries hold ABSOLUTE references to the source's files — "
        "O(#entries) metadata, zero bytes moved. A range DELETE on the "
        "clone then stats-prunes to the overlapping referenced shards, "
        "rewrites the survivors into the CLONE's own directory, and "
        "commits clone-v1 = untouched source references + local "
        "rewrites. Asserts pin that every source file still exists and "
        "the source HEAD never moved; the two-table aggregate oracle "
        "proves the source serves the full corpus while the clone "
        "serves the deleted view. At 100 TB this is how experiment "
        "branches and reproducible snapshots cost metadata, not "
        "storage.",
)
def q305_manifest_shallow_clone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import os
    import shutil

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        read_head,
        read_version as manifest_read_version,
    )

    docs = table(spark, sf_dir, "documents")
    base = scratch_dir(spark, "q305", sf_dir)
    src_store = os.path.join(base, "source")
    clone_store = os.path.join(base, "clone")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src_store, exist_ok=True)
    os.makedirs(clone_store, exist_ok=True)

    span = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = span["mn"], span["mx"]
    step = (mx - mn) // 16 + 1
    a = mn + (mx - mn) // 4
    z = mn + (mx - mn) // 2

    (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            ((F.col("doc_id") - F.lit(mn)) / F.lit(step))
            .cast("long")
            .alias("shard"),
        )
        .repartition(16, "shard")
        .write.partitionBy("shard")
        .json(os.path.join(src_store, "gen0"))
    )

    def shard_entries(store, gen_rel):
        dirs = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(store, gen_rel, "shard=*"))
        )
        if not dirs:
            return []
        stats = (
            spark.read.schema("doc_id bigint, lang string, n_chars bigint")
            .option("basePath", os.path.join(store, gen_rel))
            .json([os.path.join(store, gen_rel, d) for d in dirs])
            .groupBy("shard")
            .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
            .collect()
        )
        by_shard = {r["shard"]: r for r in stats}
        return [
            {
                "path": os.path.join(gen_rel, d),
                "min_doc_id": by_shard[int(d.split("=")[1])]["mn"],
                "max_doc_id": by_shard[int(d.split("=")[1])]["mx"],
            }
            for d in dirs
            if int(d.split("=")[1]) in by_shard
        ]

    def resolve(store, entry):
        p = entry["path"]
        return p if os.path.isabs(p) else os.path.join(store, p)

    src_v0 = shard_entries(src_store, "gen0")
    commit_version(src_store, 0, src_v0)

    # CLONE: metadata-only — absolute references to the source's files
    clone_v0 = [
        {**e, "path": os.path.join(src_store, e["path"])} for e in src_v0
    ]
    commit_version(clone_store, 0, clone_v0)

    # DELETE on the CLONE: stats-prune, rewrite survivors LOCALLY
    affected = [
        e
        for e in clone_v0
        if not (e["max_doc_id"] < a or e["min_doc_id"] > z)
    ]
    untouched = [e for e in clone_v0 if e not in affected]
    assert 0 < len(affected) < len(clone_v0)
    (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("basePath", os.path.join(src_store, "gen0"))
        .json([resolve(clone_store, e) for e in affected])
        .filter((F.col("doc_id") < a) | (F.col("doc_id") > z))
        .repartition(max(1, len(affected)), "shard")
        .write.partitionBy("shard")
        .json(os.path.join(clone_store, "gen1"))
    )
    commit_version(
        clone_store, 1, untouched + shard_entries(clone_store, "gen1")
    )

    # isolation-by-reference invariants: the source never noticed
    assert read_head(src_store) == 0
    for e in src_v0:
        assert os.path.isdir(os.path.join(src_store, e["path"]))

    def read_store(store):
        entries = manifest_read_version(store, read_head(store))
        return spark.read.schema(
            "doc_id bigint, lang string, n_chars bigint"
        ).json([resolve(store, e) for e in entries])

    def agg(df, tbl):
        return df.groupBy("lang").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).select(F.lit(tbl).alias("tbl"), "lang", "n_docs", "total_chars")

    return agg(read_store(src_store), "source").unionByName(
        agg(read_store(clone_store), "clone")
    )


@register(
    "q306_zorder_clustering",
    # multi-dimensional clustering (Delta Z-ORDER / OPTIMIZE ZORDER BY,
    # Iceberg sort-order z-curve): re-cluster the store's files on the
    # INTERLEAVED bits of two dimensions so per-file min/max stats are
    # tight on BOTH — a 2-D box predicate then prunes files that a
    # single-dimension (linear) layout must read. Both layouts carry
    # identical per-file (min,max) stats for both dims and use the SAME
    # pruning rule; the in-query assert pins that the z-layout scans
    # strictly fewer files for the same box. The result is the box
    # aggregate from the PRUNED z-order read, under an integer-
    # arithmetic oracle.
    oracle="""
    WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx,
                      min(n_chars) AS cmn, max(n_chars) AS cmx
               FROM documents),
    r AS (SELECT mn + (mx - mn) // 4 AS a, mn + (mx - mn) // 2 AS z,
                 cmn + (cmx - cmn) // 4 AS ca, cmn + (cmx - cmn) // 2 AS cz
          FROM b)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents, r
    WHERE doc_id BETWEEN r.a AND r.z AND n_chars BETWEEN r.ca AND r.cz
    GROUP BY lang
    """,
    survey_ref="warehouse surface: Z-ORDER clustering — space-filling-"
               "curve file layout for multi-dimensional stats pruning "
               "(the Delta OPTIMIZE ZORDER BY verb), completing the "
               "layout-management verbs beside q297's OPTIMIZE "
               "bin-packing",
    doc="Z-order clustering: documents land twice as 16-file stores — "
        "LINEAR (ranged by doc_id only, the q299 layout) and Z-ORDERED "
        "(files keyed by the bit-interleave of each dimension's 2-bit "
        "bucket: cell = bx0 | by0<<1 | bx1<<2 | by1<<3 — a 4x4 "
        "z-curve over (doc_id, n_chars)). Every manifest entry carries "
        "per-file (min,max) for BOTH dims, measured from the data. A "
        "2-D box query (middle quarter of each dimension) prunes both "
        "stores with the identical stats rule; the linear layout is "
        "tight on doc_id but spans all of n_chars per file, so it "
        "keeps more files than the z-layout, which is tight on both — "
        "asserted strictly fewer. The returned aggregate reads ONLY "
        "the z-pruned files, so correctness of pruning is "
        "oracle-proven, not just counted. At 100 TB this is the verb "
        "that turns multi-predicate scans from full-partition reads "
        "into a handful of files.",
)
def q306_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        commit_version,
        read_head,
        read_version as manifest_read_version,
    )

    docs = table(spark, sf_dir, "documents")
    store = scratch_dir(spark, "q306_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    span = docs.agg(
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.min("n_chars").alias("cmn"),
        F.max("n_chars").alias("cmx"),
    ).first()
    mn, mx, cmn, cmx = span["mn"], span["mx"], span["cmn"], span["cmx"]
    a = mn + (mx - mn) // 4
    z = mn + (mx - mn) // 2
    ca = cmn + (cmx - cmn) // 4
    cz = cmn + (cmx - cmn) // 2

    # 2-bit bucket per dimension (exact integer arithmetic)
    bx = ((F.col("doc_id") - F.lit(mn)) * 4 / F.lit(mx - mn + 1)).cast(
        "long"
    )
    by = ((F.col("n_chars") - F.lit(cmn)) * 4 / F.lit(cmx - cmn + 1)).cast(
        "long"
    )
    # z-curve cell: interleave the two 2-bit buckets
    zcell = (
        (bx.bitwiseAND(F.lit(1)))
        + F.shiftleft(by.bitwiseAND(F.lit(1)), 1)
        + F.shiftleft(F.shiftright(bx, 1).bitwiseAND(F.lit(1)), 2)
        + F.shiftleft(F.shiftright(by, 1).bitwiseAND(F.lit(1)), 3)
    )
    # linear cell: 16 ranged doc_id shards (the q299 layout)
    step = (mx - mn) // 16 + 1
    lcell = ((F.col("doc_id") - F.lit(mn)) / F.lit(step)).cast("long")

    base = docs.select("doc_id", "lang", "n_chars")

    def write_layout(cell_col, gen_rel):
        (
            base.withColumn("cell", cell_col)
            .repartition(16, "cell")
            .write.partitionBy("cell")
            .json(os.path.join(store, gen_rel))
        )
        dirs = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(store, gen_rel, "cell=*"))
        )
        stats = (
            spark.read.schema("doc_id bigint, lang string, n_chars bigint")
            .option("basePath", os.path.join(store, gen_rel))
            .json([os.path.join(store, gen_rel, d) for d in dirs])
            .groupBy("cell")
            .agg(
                F.min("doc_id").alias("dmn"),
                F.max("doc_id").alias("dmx"),
                F.min("n_chars").alias("cmn"),
                F.max("n_chars").alias("cmx"),
            )
            .collect()
        )
        by_cell = {r["cell"]: r for r in stats}
        return [
            {
                "path": os.path.join(gen_rel, d),
                "min_doc_id": by_cell[int(d.split("=")[1])]["dmn"],
                "max_doc_id": by_cell[int(d.split("=")[1])]["dmx"],
                "min_n_chars": by_cell[int(d.split("=")[1])]["cmn"],
                "max_n_chars": by_cell[int(d.split("=")[1])]["cmx"],
            }
            for d in dirs
            if int(d.split("=")[1]) in by_cell
        ]

    linear = write_layout(lcell, "linear")
    zorder = write_layout(zcell, "zorder")
    commit_version(store, 0, linear)
    commit_version(store, 1, zorder)  # the OPTIMIZE ZORDER commit

    # identical stats rule, both layouts: keep files whose (min,max)
    # box intersects the query box on BOTH dims
    def prune(entries):
        return [
            e
            for e in entries
            if not (
                e["max_doc_id"] < a
                or e["min_doc_id"] > z
                or e["max_n_chars"] < ca
                or e["min_n_chars"] > cz
            )
        ]

    l_kept = prune(manifest_read_version(store, 0))
    z_kept = prune(manifest_read_version(store, read_head(store)))
    # THE clustering claim: tight stats on both dims prune harder
    assert len(z_kept) < len(l_kept), (
        f"z-order must out-prune linear: {len(z_kept)} vs {len(l_kept)}"
    )
    assert len(z_kept) < len(zorder)

    # the box aggregate from ONLY the z-pruned files — pruning
    # correctness is oracle-proven, not just counted
    back = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .json([os.path.join(store, e["path"]) for e in z_kept])
        .filter(
            (F.col("doc_id") >= a)
            & (F.col("doc_id") <= z)
            & (F.col("n_chars") >= ca)
            & (F.col("n_chars") <= cz)
        )
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
