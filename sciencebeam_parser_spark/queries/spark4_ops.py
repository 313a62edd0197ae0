"""Spark 4 engine-surface operators: recursive CTEs, SQL scripting,
LATERAL correlated subqueries, and Arrow-native vectorized UDFs.

Spark 4 grew first-class SQL constructs that earlier rounds emulated by
hand: the unrolled iterative loops of q177/q222 (PageRank / BFS) exist
because recursive CTEs historically weren't available — `WITH RECURSIVE`
now expresses the same fixpoint declaratively, with Catalyst owning the
per-round plan; procedural driver loops (compute an aggregate, iterate a
scalar recurrence on it) become `BEGIN … WHILE … END` SQL scripts that
run entirely in the engine; per-group top-k joins gain the ANSI LATERAL
spelling; and the Python UDF boundary gets an Arrow-native path
(`arrow_udf`) that skips the pandas conversion entirely — the fastest
Python boundary the engine offers.

Every query here runs the SAME SQL shape on DuckDB (both engines speak
these ANSI constructs), so the oracles check the new surface end-to-end.

Scale posture: the recursive CTE is a bounded-depth frontier expansion
(each level is one equi-join on the edge key — the Pregel shuffle shape,
now engine-managed); the script's loop body is driver-side scalar
arithmetic AFTER a single distributed aggregate (one job, then O(1)
work); LATERAL decorrelates into a ranked window over one shuffle, never
a per-row re-scan; the arrow UDF is a narrow map stage.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import scratch_dir

# Synthetic citation graph shared with q177/q222 (graph_ops): stride-97
# ring edges give every doc out-degree 3 with no self-loops.
_STRIDE = 97
_SEED_MOD = 101  # doc_id % 101 == 0 → 5 seed docs at the 500-doc SF
_MAX_DEPTH = 3

# Identical text on both engines modulo the table name: Spark reads the
# temp view q269_docs, DuckDB the registered documents view.
_REACH_SQL = """
WITH RECURSIVE
stats AS (SELECT count(*) AS n FROM {docs}),
edges AS (
  SELECT d.doc_id AS src, (d.doc_id + k.k * {stride}) %% s.n AS dst
  FROM {docs} d CROSS JOIN stats s
  CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3) k
  WHERE (d.doc_id + k.k * {stride}) %% s.n <> d.doc_id
),
reach(v, depth) AS (
  SELECT doc_id, 0 FROM {docs} WHERE doc_id %% {seed_mod} = 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.v
  WHERE r.depth < {max_depth}
)
SELECT CAST(v AS BIGINT) AS v, CAST(min(depth) AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY v
""".replace("%%", "%")


@register(
    "q269_recursive_cte_reachability",
    oracle=_REACH_SQL.format(
        docs="documents", stride=_STRIDE, seed_mod=_SEED_MOD,
        max_depth=_MAX_DEPTH,
    ),
    survey_ref="§2B iterative graph algorithms (q110/q177/q222 family) — "
               "the reference's citation-target reachability "
               "(processors/ref_matching chains) as a declarative "
               "fixpoint; Spark 4 WITH RECURSIVE",
    doc="Bounded-depth reachability over the stride-97 citation graph as "
        "a RECURSIVE CTE — the first engine-managed fixpoint in the "
        "suite (q177/q222 unroll the same loop by hand). The recursive "
        "step is one equi-join of the frontier against the edge set per "
        "level (the Pregel shuffle shape) with an explicit depth guard; "
        "at 100 TB the frontier join keys partition exactly like the "
        "hand-unrolled variant, but Catalyst owns per-level planning and "
        "the depth guard bounds the iteration server-side. min(depth) = "
        "BFS distance; n_paths counts distinct derivations (UNION ALL "
        "keeps path multiplicity, as in the path-counting oracle).",
)
def q269_recursive_cte_reachability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("q269_docs")
    return spark.sql(
        _REACH_SQL.format(
            docs="q269_docs", stride=_STRIDE, seed_mod=_SEED_MOD,
            max_depth=_MAX_DEPTH,
        )
    )


_NEWTON_ROUNDS = 8


def _newton_oracle_sql(rounds: int) -> str:
    """The scripting loop unrolled as ANSI CTEs (DuckDB `//` = floor
    division; all values positive, so it agrees with Spark's `DIV`)."""
    sql = (
        "WITH i0 AS (SELECT CAST(sum(n_chars) AS BIGINT) AS s, "
        "CAST(sum(n_chars) AS BIGINT) AS x FROM documents)"
    )
    for i in range(1, rounds + 1):
        sql += f", i{i} AS (SELECT s, (x + s // x) // 2 AS x FROM i{i - 1})"
    return (
        sql
        + f" SELECT s AS total_chars, x AS newton{rounds} FROM i{rounds}"
    )


@register(
    "q270_sql_scripting_newton",
    oracle=_newton_oracle_sql(_NEWTON_ROUNDS),
    survey_ref="§2B procedural orchestration — the reference's driver-side "
               "pipeline loops (app/parser.py request loop) expressed as "
               "Spark 4 SQL scripting (BEGIN/DECLARE/WHILE) running "
               "inside the engine",
    doc="SQL scripting: one distributed aggregate (sum of n_chars) "
        "feeds a DECLAREd variable, then a WHILE loop iterates the "
        "integer Newton recurrence x ← (x + s div x) div 2 eight times — "
        "procedural control flow executed by the engine, no Python round "
        "trips. The oracle unrolls the identical recurrence as chained "
        "CTEs, so the hash proves loop-vs-unrolled equivalence. Scale "
        "posture: the cluster does exactly one job (the aggregate); the "
        "loop is O(1) scalar arithmetic — the right split between "
        "distributed and driver work.",
)
def q270_sql_scripting_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("q270_docs")
    return spark.sql(
        f"""
BEGIN
  DECLARE s BIGINT DEFAULT 0;
  DECLARE x BIGINT DEFAULT 0;
  DECLARE i INT DEFAULT 0;
  SET s = (SELECT sum(n_chars) FROM q270_docs);
  SET x = s;
  WHILE i < {_NEWTON_ROUNDS} DO
    SET x = (x + s DIV x) DIV 2;
    SET i = i + 1;
  END WHILE;
  SELECT CAST(s AS BIGINT) AS total_chars,
         CAST(x AS BIGINT) AS newton{_NEWTON_ROUNDS};
END
"""
    )


_LATERAL_SQL = """
SELECT n.n_name AS nation, t.c_custkey, t.bal_cents
FROM {nation} n, LATERAL (
  SELECT c.c_custkey AS c_custkey,
         CAST(floor(c.c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM {customer} c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c.c_acctbal DESC, c.c_custkey
  LIMIT 3
) t
"""


@register(
    "q271_lateral_topk_per_group",
    oracle=_LATERAL_SQL.format(nation="nation", customer="customer"),
    survey_ref="§2B correlated-subquery surface beside q247 (decorrelated "
               "aggregate) — ANSI LATERAL per-group top-k, the "
               "subquery-unnesting path of the optimizer",
    doc="Per-nation top-3 customers by balance via ANSI LATERAL — the "
        "correlated spelling of q22's window top-k. Catalyst decorrelates "
        "the LATERAL subquery instead of re-running it per outer row; "
        "the full ORDER BY tiebreak (balance DESC, custkey) makes the "
        "result deterministic. DuckDB runs the identical SQL text, so "
        "the oracle checks the decorrelation itself. floor-cents keeps "
        "the balance exact int64 on both engines. Honest plan note: the "
        "decorrelated plan is a GLOBAL range-sort feeding a per-key "
        "row_number — one more exchange than the direct window spelling "
        "(q22), so at 100 TB write the window form; this query pins the "
        "SQL surface and its correctness, not the preferred plan.",
)
def q271_lateral_topk_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table(spark, sf_dir, "nation").createOrReplaceTempView("q271_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q271_customer"
    )
    return spark.sql(
        _LATERAL_SQL.format(nation="q271_nation", customer="q271_customer")
    )


@register(
    "q272_arrow_udf_signature",
    oracle="""
    SELECT doc_id,
           CAST(31 * length(text)
                + 7 * (length(text) - length(replace(text, 'e', '')))
                AS BIGINT) AS arrow_sig
    FROM documents
    """,
    survey_ref="§2B UDF surface completion (beside q147 pandas UDAF / "
               "q148 UDTF / q116 model UDF): Spark 4 arrow_udf — the "
               "Arrow-native vectorized scalar path, reference "
               "models/data.py per-token featurization boundary",
    doc="Arrow-native scalar UDF: the batch arrives as a pyarrow.Array "
        "and the kernel runs entirely in pyarrow.compute (utf8_length + "
        "count_substring) — no pandas materialization, no per-row "
        "Python, the cheapest Python boundary the engine offers (the "
        "10-100x-over-row-UDF claim of the pandas path, minus the Arrow→"
        "pandas copy). The oracle restates the kernel relationally "
        "(char count and occurrence count via replace-difference), so "
        "the hash proves the Arrow kernel computes exactly the declared "
        "function. In the hot path this shape only appears where "
        "built-ins genuinely can't express the kernel; here it pins the "
        "API surface.",
)
def q272_arrow_udf_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    # no annotations: this module defers annotation evaluation (PEP 563),
    # which turns the signature into strings arrow_udf can't interpret —
    # the (function, returnType) call form sidesteps inference entirely
    def _kernel(a):
        n = pc.cast(pc.utf8_length(a), pa.int64())
        e = pc.cast(pc.count_substring(a, "e"), pa.int64())
        return pc.add(
            pc.multiply(n, pa.scalar(31, pa.int64())),
            pc.multiply(e, pa.scalar(7, pa.int64())),
        )

    arrow_sig = F.arrow_udf(_kernel, "long")

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", arrow_sig(F.col("text")).alias("arrow_sig")
    )


_SQL_UDF_THRESH = 300

_SQL_UDF_ORACLE = f"""
SELECT doc_id, n_chars,
       CASE WHEN n_tokens = 0 THEN NULL
            ELSE CAST((10000 * n_chars) // n_tokens AS BIGINT) END
           AS chars_per_token_bp
FROM (
  SELECT doc_id, n_chars,
         1 + length(text) - length(replace(text, ' ', '')) AS n_tokens
  FROM documents
  WHERE n_chars >= {_SQL_UDF_THRESH}
)
"""


@register(
    "q273_sql_udf",
    oracle=_SQL_UDF_ORACLE,
    survey_ref="§2B UDF surface — Spark 4 SQL UDFs (CREATE FUNCTION … "
               "RETURN): scalar + table-valued, the zero-Python UDF path; "
               "reference config-driven scalar parsers "
               "(functions/parsers.py family) as engine-resident "
               "functions",
    doc="SQL UDFs: a scalar CREATE FUNCTION (integer chars-per-token in "
        "basis points, zero-guarded for ANSI mode) applied over a "
        "table-valued CREATE FUNCTION (threshold-parameterized long-doc "
        "selector). Both are catalog objects whose bodies Catalyst "
        "inlines into the calling plan — the UDF abstraction with NO "
        "Python boundary and no codegen break, which is why this is the "
        "preferred packaging for reusable business logic at 100 TB. The "
        "oracle inlines both bodies; the hash proves the inlining is "
        "semantics-preserving.",
)
def q273_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("q273_docs")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION q273_cpt_bp(
            n_chars BIGINT, n_tokens BIGINT)
        RETURNS BIGINT
        RETURN CASE WHEN n_tokens = 0 THEN NULL
                    ELSE (10000 * n_chars) DIV n_tokens END
        """
    )
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION q273_long_docs(
            thresh BIGINT)
        RETURNS TABLE(doc_id BIGINT, n_chars BIGINT, n_tokens BIGINT)
        RETURN SELECT doc_id, n_chars,
                      1 + length(text) - length(replace(text, ' ', ''))
               FROM q273_docs WHERE n_chars >= thresh
        """
    )
    return spark.sql(
        f"""
        SELECT doc_id, n_chars,
               q273_cpt_bp(n_chars, n_tokens) AS chars_per_token_bp
        FROM q273_long_docs({_SQL_UDF_THRESH})
        """
    )


_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS count_order,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
HAVING count(*) > 10
"""


@register(
    "q274_pipe_syntax",
    oracle=_PIPE_ORACLE,
    survey_ref="§2B SQL dialect surface — Spark 4 SQL pipe syntax (|>): "
               "the q01 pricing-summary shape restated as a linear pipe "
               "with a post-aggregate filter stage",
    doc="SQL pipe syntax: FROM … |> WHERE … |> AGGREGATE … GROUP BY … "
        "|> WHERE — the linear-dataflow spelling of scan→filter→agg→"
        "having. Pipe stages are pure syntax: Catalyst plans the "
        "identical partial-agg + exchange + final-agg as the ANSI form "
        "(the oracle), so the hash pins dialect equivalence. The "
        "post-aggregate |> WHERE must become a filter AFTER the final "
        "aggregate (HAVING), not leak onto the scan.",
)
def q274_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q274_lineitem"
    )
    return spark.sql(
        """
        FROM q274_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS count_order,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                         AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        |> WHERE count_order > 10
        |> SELECT l_returnflag, l_linestatus, count_order, sum_qty,
                  sum_disc_price
        """
    )


@register(
    "q275_collated_group",
    oracle="""
    SELECT lower(k) AS lang_ci, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT k) AS BIGINT) AS n_case_variants
    FROM (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS k
      FROM documents
    )
    GROUP BY lower(k)
    """,
    survey_ref="§2B string semantics — Spark 4 collations: UTF8_LCASE "
               "case-insensitive grouping as an engine-native comparison "
               "rule (vs the lower()-normalization idiom of q40); "
               "reference lookup normalization "
               "(lookup/simple_lookup.py case folding)",
    doc="Collation-aware aggregation: the language tag is case-mangled "
        "deterministically (upper on even doc_ids), then grouped under "
        "the UTF8_LCASE collation — the engine's comparator itself is "
        "case-insensitive, no lower() rewrite of the data. "
        "n_case_variants counts DISTINCT under UTF8_BINARY inside each "
        "collated group, proving the two collations coexist in one "
        "aggregate. Output key is lower(min(k)): values equal under "
        "LCASE lower identically, so the representative is "
        "deterministic. The oracle is the classic lower()-normalization "
        "restatement — the hash pins that native collation equals the "
        "rewrite. At scale collated grouping hashes the collation key "
        "directly (one shuffle, no derived column).",
)
def q275_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("q275_docs")
    return spark.sql(
        """
        SELECT lower(min(k)) AS lang_ci,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT collate(k, 'UTF8_BINARY')) AS BIGINT)
                   AS n_case_variants
        FROM (
          SELECT collate(
                   CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END,
                   'UTF8_LCASE') AS k
          FROM q275_docs
        )
        GROUP BY k
        """
    )


@register(
    "q276_streaming_state_reader",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    survey_ref="§2B streaming operations — Spark 4 state data source "
               "(spark.read.format('statestore')): offline inspection of "
               "a stateful query's checkpoint, the production debugging "
               "surface for the reference's incremental pipelines "
               "(A28 cascade run as a stream)",
    doc="State-store reader: a grouped-count stream over events runs to "
        "completion (availableNow) against a session-scoped checkpoint, "
        "then the checkpoint's state is read BACK as a batch DataFrame "
        "via the statestore data source — key struct + value struct + "
        "partition_id, flattened to (event_type, n_events). The oracle "
        "is the plain batch GROUP BY: the hash proves the materialized "
        "state equals the semantic aggregate, i.e. state inspection is "
        "trustworthy for debugging. At scale the reader opens only state "
        "files (one per shuffle partition), never the source data; the "
        "checkpoint lives in the session's scratch dir so concurrent "
        "sessions never collide.",
)
def q276_streaming_state_reader(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from sciencebeam_parser_spark.queries.events_ops import (
        _events_stream,
        _start_bounded_stream,
    )

    app = spark.sparkContext.applicationId.replace("-", "_")
    ckpt = scratch_dir(spark, "q276_ckpt", sf_dir)
    # fresh checkpoint per build; kept on disk afterwards — the returned
    # DataFrame reads the state files lazily
    shutil.rmtree(ckpt, ignore_errors=True)

    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    writer = (
        agg.writeStream.format("memory")
        .queryName(f"q276_state_{app}")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    q = _start_bounded_stream(spark, writer, managed_checkpoint=False)
    if q.isActive:  # pragma: no cover - await timed out, stream running
        q.stop()
        raise RuntimeError(
            "q276 stream did not finish within the await window; "
            "refusing to read in-flight state"
        )
    if q.exception() is not None:  # pragma: no cover
        raise RuntimeError(f"q276 stream failed: {q.exception()}")

    state = spark.read.format("statestore").load(ckpt)
    # the state value struct holds the PHYSICAL aggregation buffer —
    # count's buffer field is named `count`, not the query-level alias
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )


@register(
    "q277_native_xml_source",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(trim(text))) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id < 60
    GROUP BY lang
    """,
    survey_ref="§2A A2 XML parse / §2B scans — Spark 4 NATIVE XML data "
               "source (built-in spark-xml): the declarative alternative "
               "to the binaryFile+mapInPandas ElementTree path of "
               "q114/q121/q266 (reference utils/xml.py parsing)",
    doc="Native XML source round trip: a corpus fixture (60 docs as "
        "<doc id lang><content>text</content></doc>, written with real "
        "ElementTree escaping) is read back via the BUILT-IN xml format "
        "with rowTag + an explicit schema (no inference pass), then "
        "aggregated per language. The oracle recomputes from the parquet "
        "table with trim(): the native reader strips surrounding "
        "whitespace of element text (ignoreSurroundingSpaces), which the "
        "hash therefore documents and pins, along with entity "
        "unescaping. At scale the native source splits a directory of "
        "XML files across executors JVM-side — no Python boundary at "
        "all, unlike the mapInPandas path, making it the preferred scan "
        "for well-formed row-structured XML; the ElementTree path "
        "remains for XPath-heavy TEI/ALTO semantics the row model can't "
        "express.",
)
def q277_native_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import xml.etree.ElementTree as ET

    from pyspark.sql import types as T

    docs = table(spark, sf_dir, "documents")
    rows = (
        docs.filter(F.col("doc_id") < 60)
        .select("doc_id", "lang", "text")
        .collect()  # 60-row fixture definition, not a data path
    )
    root = ET.Element("corpus")
    for r in sorted(rows, key=lambda r: r.doc_id):
        el = ET.SubElement(
            root, "doc", {"id": str(r.doc_id), "lang": r.lang}
        )
        ET.SubElement(el, "content").text = r.text
    out_dir = scratch_dir(spark, "native_xml", sf_dir)
    ET.ElementTree(root).write(
        os.path.join(out_dir, "corpus.xml"),
        encoding="utf-8",
        xml_declaration=True,
    )

    schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("_lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    parsed = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(schema)
        .load(out_dir)
    )
    return parsed.groupBy(F.col("_lang").alias("lang")).agg(
        F.count("*").alias("n_docs"),
        # empty/whitespace-only <content> parses as NULL: coalesce per
        # row so an all-blank language sums to 0 exactly like the
        # oracle's sum(length(trim(text)))
        F.sum(F.coalesce(F.length("content"), F.lit(0))).alias(
            "total_chars"
        ),
    )


@register(
    "q279_parameterized_identifier",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source = 'src7'
    GROUP BY lang
    """,
    survey_ref="§2B API surface — parameterized SQL (named parameters) + "
               "the IDENTIFIER() clause: the injection-safe templating "
               "path for the reference's config-driven pipelines "
               "(config.py table/field indirection)",
    doc="Parameterized SQL: the table name binds through IDENTIFIER(:tbl) "
        "and the filter value through :src — both arrive via "
        "spark.sql(..., args=...), never string interpolation, so a "
        "hostile value cannot change the statement shape (the SQL "
        "injection-safe path for config-driven pipelines). Catalyst "
        "resolves IDENTIFIER at analysis time; the plan is identical to "
        "the literal spelling, which is exactly what the oracle hash "
        "proves.",
)
def q279_parameterized_identifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("q279_docs")
    return spark.sql(
        """
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM IDENTIFIER(:tbl)
        WHERE source = :src
        GROUP BY lang
        """,
        args={"tbl": "q279_docs", "src": "src7"},
    )


@register(
    "q284_approx_top_k",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    survey_ref="§2B native sketch functions — approx_top_k "
               "(frequent-items sketch): the engine-native heavy-hitters "
               "path beside the hand-built CMS (q259) and exact mode "
               "top-1 (q35)",
    doc="Native frequent-items sketch: approx_top_k(event_type, 8) runs "
        "as ONE mergeable sketch aggregate (map-side partials, no "
        "row-level shuffle) and is exploded back to (item, count) rows. "
        "k=8 exceeds the type cardinality, putting the sketch in its "
        "EXACT regime — the oracle is the plain GROUP BY, so the hash "
        "proves the sketch counts precisely when it has room, the same "
        "guarantee the CMS family documents. At real cardinalities the "
        "same plan ships fixed-size sketch partials instead of a "
        "full-width count table — the 100 TB heavy-hitters shape.",
)
def q284_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("q284_events")
    return spark.sql(
        """
        SELECT t.item AS event_type, CAST(t.count AS BIGINT) AS n
        FROM (
          SELECT explode(approx_top_k(event_type, 8)) AS t
          FROM q284_events
        )
        """
    )


@register(
    "q285_hll_sketch_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
               AS week_start,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY 1
    """,
    survey_ref="§2B native sketch functions — hll_sketch_agg / "
               "hll_union_agg / hll_sketch_estimate (Apache DataSketches "
               "HLL): the engine-native mergeable-distinct path beside "
               "the hand-built register HLL (q221) and KMV (q115)",
    doc="Native HLL rollup: per-day event-type sketches "
        "(hll_sketch_agg) merge into weekly sketches via hll_union_agg "
        "— re-aggregating the SKETCHES, never the rows, which is the "
        "entire point of mergeable summaries at 100 TB (daily sketches "
        "persist once; any calendar rollup is a cheap union). Type "
        "cardinality is far below the sketch's exact threshold, so "
        "estimates are exact and the oracle is the plain "
        "count(DISTINCT) per week — the hash proves the merge loses "
        "nothing in the exact regime. date_trunc on the normalized "
        "timestamp matches DuckDB week boundaries (both ISO Monday).",
)
def q285_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.expr("hll_sketch_agg(event_type)").alias("sk"))
    return (
        daily.groupBy(
            F.to_date(F.date_trunc("week", F.col("day"))).alias(
                "week_start"
            )
        )
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("n_types")
        )
    )
