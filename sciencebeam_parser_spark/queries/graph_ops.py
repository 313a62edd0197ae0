"""Graph / maintenance / stream-join operators rounding out the engine
surface: iterative PageRank, SCD-1 MERGE upsert, a real stream-stream
interval join, BPE merge-candidate counting, and deterministic negative
sampling for contrastive training.

Motivation. The reference's citation graph (raw reference -> target
content id, processors/ref_matching.py) and the north-star corpus work
both need graph-shaped batch iteration (importance scoring over a link
graph, as in web-corpus curation where PageRank-family scores gate crawl
quality) and incremental maintenance (daily snapshot upsert). The
streaming interval join completes the §2B streaming table: q170 covered
stream-static; this is the genuine stream-STREAM case with watermarks on
both sides and a time-range condition bounding state.

Determinism note (PageRank). Floating-point PageRank is NOT portable
across engines: per-node inflow sums run in different orders and the
1-ulp differences compound across iterations. The implementation runs in
scaled 64-bit INTEGER arithmetic (rank * 10^12, integer division
everywhere), so every iteration is bit-exact on any engine — the same
trick fixed q124's float gate (corpus_ops.py). At 100 TB the loop is the
standard Pregel-style shape: edges pre-partitioned by src, one shuffle
per iteration (groupBy dst), lineage cut per round via localCheckpoint
exactly like operators/graph.py's connected components.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import unique_name
from sciencebeam_parser_spark.utils import checkpoint_big

# rank fixed-point scale: 10^12 (85 * 10^12 stays far under int64 max)
_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 3
_PR_STRIDE = 97  # edge stride: dst = (src + k*97) % n, k in 1..3


_PR_EDGES_CTE = f"""
    stats AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS v FROM documents),
    edges AS (
        SELECT d.doc_id AS src,
               (d.doc_id + k.k * {_PR_STRIDE}) % s.n AS dst
        FROM documents d
        CROSS JOIN stats s
        CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3) k
        WHERE (d.doc_id + k.k * {_PR_STRIDE}) % s.n <> d.doc_id
    ),
    outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration in scaled-integer SQL."""
    return f"""
    {out} AS (
        SELECT n.v,
               CAST((15 * {_PR_SCALE}) // (100 * s.n)
                    + (85 * COALESCE(SUM(r.r // o.deg), 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        CROSS JOIN stats s
        LEFT JOIN edges e ON e.dst = n.v
        LEFT JOIN {prev} r ON r.v = e.src
        LEFT JOIN outdeg o ON o.src = e.src
        GROUP BY n.v, s.n
    )"""


@register(
    "q177_pagerank",
    # 3 unrolled iterations; every arithmetic step is int64 (// division),
    # so Spark's loop and the CTE chain produce identical bit patterns.
    oracle="WITH "
    + _PR_EDGES_CTE
    + f""",
    r0 AS (
        SELECT v, CAST({_PR_SCALE} // s.n AS BIGINT) AS r
        FROM nodes CROSS JOIN stats s
    ),
    {_pr_iter_sql('r0', 'r1')},
    {_pr_iter_sql('r1', 'r2')},
    {_pr_iter_sql('r2', 'r3')}
    SELECT v AS doc_id, r AS rank_scaled,
           round(CAST(r AS DOUBLE) / {_PR_SCALE}, 9) AS rank
    FROM r3
    """,
    survey_ref="engine-general iterative graph algorithm (extends A20's "
               "citation graph / operators/graph.py components): "
               "importance scoring over a link graph — the web-corpus "
               "curation signal (PageRank-family quality gate)",
    doc="PageRank over a deterministic synthetic citation graph (each doc "
        "cites (id + k*97) mod n, k=1..3), 3 iterations, damping 0.85 — "
        "computed in scaled 64-bit integer arithmetic (rank*1e12, integer "
        "division) so the result is bit-exact across engines; float "
        "PageRank is not (sum order + iteration compounding). Pregel "
        "shape: one groupBy(dst) shuffle per iteration, ranks "
        "localCheckpoint'ed per round to cut lineage; edges partition by "
        "src and would be bucketed on a real cluster so the per-iteration "
        "join is co-located.",
)
def q177_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stats = docs.agg(F.count("*").alias("n"))
    nodes = docs.select(F.col("doc_id").alias("v")).crossJoin(
        F.broadcast(stats)
    )
    edges = (
        nodes.select(
            F.col("v").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
            "n",
        )
        .select(
            "src",
            ((F.col("src") + F.col("k") * _PR_STRIDE) % F.col("n")).alias(
                "dst"
            ),
        )
        .filter(F.col("dst") != F.col("src"))
    )
    # joined every iteration: materialize once instead of re-scanning the
    # corpus per round. O(docs x k) rows born in input-split-sized
    # partitions (explode) -> repartition by the per-round join key (src)
    # + DISK_ONLY; the hash partitioning is reused by every iteration's
    # contrib join and the outdeg aggregate.
    edges = checkpoint_big(edges, "src")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    base = F.expr(f"(15 * {_PR_SCALE}) div (100 * n)")
    ranks = nodes.select("v", "n", F.expr(f"{_PR_SCALE} div n").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.select("v", "r"), edges.src == F.col("v"))
            .join(outdeg, "src")
            .select("dst", F.expr("r div deg").alias("c"))
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, nodes.v == inflow.dst, "left")
            .select(
                "v",
                "n",
                (
                    base
                    + F.expr("(85 * coalesce(inflow, 0)) div 100")
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        F.col("v").alias("doc_id"),
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r").cast("double") / _PR_SCALE, 9).alias("rank"),
    )


@register(
    "q178_snapshot_upsert",
    # SCD-1 MERGE: the update batch (every 5th key, balance +100, segment
    # reset) wins over the base snapshot (which is missing keys ending in
    # 7); new keys from the batch insert. Expressed as union + per-key
    # row_number — ONE shuffle, no join, the scalable MERGE shape.
    oracle="""
    WITH unioned AS (
        SELECT c_custkey, c_name,
               round(c_acctbal + 100, 2) AS c_acctbal,
               'UPDATED' AS c_mktsegment, 0 AS pri
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_name, round(c_acctbal, 2), c_mktsegment, 1
        FROM customer WHERE c_custkey % 10 <> 7
    )
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
           CASE WHEN pri = 0 THEN 'update' ELSE 'base' END AS row_source
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY pri) AS rn
        FROM unioned
    )
    WHERE rn = 1
    """,
    survey_ref="engine-general incremental maintenance (motivated by A30 "
               "training-data regeneration over a changing corpus): "
               "MERGE/upsert of an update batch into a snapshot",
    doc="SCD-1 snapshot upsert (MERGE WHEN MATCHED UPDATE / NOT MATCHED "
        "INSERT) expressed as unionByName + row_number per key with the "
        "update batch at higher priority — one hash shuffle on the key, "
        "no join, no driver state; at 100 TB this is the "
        "compact-on-write pattern for maintaining a deduplicated corpus "
        "snapshot from daily increments.",
)
def q178_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
        F.lit(0).alias("pri"),
    )
    base = cust.filter(F.col("c_custkey") % 10 != 7).select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(1).alias("pri"),
    )
    w = W.partitionBy("c_custkey").orderBy("pri")
    return (
        updates.unionByName(base)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "c_mktsegment",
            F.when(F.col("pri") == 0, "update")
            .otherwise("base")
            .alias("row_source"),
        )
    )


def _click_purchase_streams(spark, sf_dir: str, *, with_value: bool):
    """The click / purchase readStream pair shared by the stream-stream
    join queries (q179 inner, q210 left-outer): both sides watermarked
    1 hour; the purchase side optionally carries a rounded value."""
    from sciencebeam_parser_spark.queries.events_ops import _events_stream

    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchase_cols = [
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    ]
    if with_value:
        purchase_cols.append(F.round("value", 2).alias("purchase_value"))
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(*purchase_cols)
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks, purchases


_CLICK_PURCHASE_JOIN_COND = """
    p_user_id = c_user_id
    AND purchase_ts >= click_ts
    AND purchase_ts < click_ts + INTERVAL 30 MINUTES
"""


def _run_append_sink(spark, joined, name: str):
    from sciencebeam_parser_spark.queries.events_ops import (
        _finish_memory_sink,
        _start_bounded_stream,
    )

    # uniquify the memory-sink name (duplicate queryName -> start error)
    name = unique_name(name)
    writer = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _start_bounded_stream(spark, writer)
    return _finish_memory_sink(spark, name)


@register(
    "q179_stream_stream_join",
    # click->purchase attribution: purchases within [click_ts, +30 min)
    # for the same user. Inner stream-stream join emits exactly the batch
    # join's pairs; the oracle states them directly.
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           round(p.value, 2) AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL '30 minutes'
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    survey_ref="§2B streaming completion: stream-STREAM inner join with "
               "watermarks on both sides and a time-range condition "
               "(q170 covered stream-static) — the conversion-attribution "
               "shape",
    doc="Real Structured Streaming stream-stream join: two readStream "
        "sources over the events file (clicks, purchases), both "
        "watermarked 1 hour, inner-joined on user_id with purchase time "
        "in [click, click+30min) — the time-range condition lets Spark "
        "bound both join-state buffers to the watermark horizon, so "
        "state is O(window), not O(stream). availableNow append sink; "
        "hash-matches the batch interval-join twin.",
)
def q179_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks, purchases = _click_purchase_streams(spark, sf_dir, with_value=True)
    joined = clicks.join(
        purchases, F.expr(_CLICK_PURCHASE_JOIN_COND)
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return _run_append_sink(spark, joined, "q179_mem")


@register(
    "q180_bpe_pair_counts",
    # BPE merge-candidate statistics: adjacent character-pair frequencies
    # over the word-frequency table (count once per word type, weighted by
    # occurrences) — the first round of byte-pair-encoding training.
    oracle="""
    WITH words AS (
        SELECT w AS word
        FROM documents,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(w)
        WHERE len(w) BETWEEN 2 AND 64
    ),
    wc AS (SELECT word, count(*) AS n FROM words GROUP BY word),
    pairs AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair, n
        FROM wc, unnest(range(1, len(word))) AS t(i)
    )
    SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 200
    """,
    survey_ref="north-star text analysis: token counting with a BPE-ish "
               "procedure — the merge-candidate (symbol-pair frequency) "
               "count that drives BPE tokenizer training",
    doc="BPE tokenizer-training round 1: lowercase alpha words -> word "
        "frequencies -> adjacent char-pair counts weighted by word "
        "frequency -> top-200 merge candidates. The pair explosion runs "
        "over the (much smaller) word-TYPE table, not the token stream — "
        "at 100 TB the word-frequency table is the only shuffled "
        "relation and the top-k compiles to TakeOrderedAndProject.",
)
def q180_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
    ).filter(F.length("word").between(2, 64))
    wc = words.groupBy("word").agg(F.count("*").alias("n"))
    pairs = wc.select(
        "n",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
        "word",
    ).select(F.expr("substring(word, i, 2)").alias("pair"), "n")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(200)
    )


@register(
    "q181_negative_sampling",
    # contrastive negatives: K=2 deterministic pseudo-random partners per
    # anchor via a stride map (hash-free so the pairing is auditable),
    # joined back for the negative's features.
    oracle="""
    WITH stats AS (SELECT count(*) AS n FROM documents),
    negs AS (
        SELECT d.doc_id AS anchor_id, k.k,
               (d.doc_id + k.k * 131) % s.n AS neg_id
        FROM documents d
        CROSS JOIN stats s
        CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2) k
        WHERE (d.doc_id + k.k * 131) % s.n <> d.doc_id
    )
    SELECT g.anchor_id, g.k, g.neg_id,
           nd.source AS neg_source,
           nd.n_chars AS neg_n_chars
    FROM negs g JOIN documents nd ON nd.doc_id = g.neg_id
    """,
    survey_ref="north-star training-data pipeline: negative-pair "
               "generation for contrastive embedding training "
               "(deterministic sampling family of q125/q171)",
    doc="Deterministic negative sampling for contrastive training: each "
        "anchor doc gets K=2 negatives at fixed strides mod corpus size, "
        "then an equi-join fetches the negatives' features. "
        "Deterministic (re-runnable, no RNG state), and the join is a "
        "plain equi-shuffle on doc_id — at scale the negatives table "
        "co-partitions with the corpus so the join is co-located.",
)
def q181_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stats = docs.agg(F.count("*").alias("n"))
    negs = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.explode(F.array(F.lit(1), F.lit(2))).alias("k"),
            "n",
        )
        .select(
            "anchor_id",
            "k",
            ((F.col("anchor_id") + F.col("k") * 131) % F.col("n")).alias(
                "neg_id"
            ),
        )
        .filter(F.col("neg_id") != F.col("anchor_id"))
    )
    neg_docs = docs.select(
        F.col("doc_id").alias("neg_id"),
        F.col("source").alias("neg_source"),
        F.col("n_chars").alias("neg_n_chars"),
    )
    return negs.join(neg_docs, "neg_id").select(
        "anchor_id", "k", "neg_id", "neg_source", "neg_n_chars"
    )


@register(
    "q210_stream_stream_outer_join",
    # left-outer emission rule: an unmatched click emits null-extended
    # only once the global watermark (max event time - 1h delay) passes
    # the end of its match window (click_ts + 30min) — the same
    # append-mode discipline as q140's session-window oracle. The
    # availableNow run finalizes state in the trailing no-data batch, so
    # the rule below is exactly what the stream emits.
    oracle="""
    WITH maxts AS (
        -- the GLOBAL watermark under Spark's default min policy is the
        -- minimum of the per-stream maxima (each minus the 1h delay) —
        -- NOT max(ts) over all events: the events table also has 'view'
        -- rows that advance neither stream's watermark
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click'),
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
        ) AS m
    ),
    clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
               c.click_ts, p.purchase_ts
        FROM clicks c
        JOIN purchases p
          ON p.user_id = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts < c.click_ts + INTERVAL '30 minutes'
    )
    SELECT click_id, purchase_id, user_id, click_ts, purchase_ts
    FROM matched
    UNION ALL
    SELECT c.click_id, NULL AS purchase_id, c.user_id,
           c.click_ts, NULL AS purchase_ts
    FROM clicks c CROSS JOIN maxts mx
    WHERE NOT EXISTS (SELECT 1 FROM matched m
                      WHERE m.click_id = c.click_id)
      AND c.click_ts + INTERVAL '30 minutes'
          < mx.m - INTERVAL '1 hour'
    """,
    survey_ref="§2B streaming completion: stream-STREAM left OUTER join "
               "(q179 covered inner) — null-extended unmatched rows "
               "under watermark-bounded state eviction",
    doc="Stream-stream LEFT OUTER join: clicks with no purchase in "
        "[click, click+30min) emit null-extended — but only after the "
        "watermark proves no match can still arrive, which is the "
        "eviction point of the click's join state. The time-range "
        "condition bounds both state buffers; unmatched rows surface in "
        "the trailing no-data micro-batch. The oracle applies the exact "
        "emission rule (match-window end < max event time - delay), so "
        "stream/batch parity is hash-checked, not assumed.",
)
def q210_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks, purchases = _click_purchase_streams(
        spark, sf_dir, with_value=False
    )
    joined = clicks.join(
        purchases, F.expr(_CLICK_PURCHASE_JOIN_COND), "left_outer"
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
        "purchase_ts",
    )
    return _run_append_sink(spark, joined, "q210_mem")


def _bfs_round_sql(prev: str, out: str) -> str:
    """One unrolled BFS frontier expansion (min-dist union)."""
    return f"""
    {out} AS (
        SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT v, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS v, r.dist + 1 AS dist
            FROM {prev} r JOIN edges e ON e.src = r.v
        ) GROUP BY v
    )"""


@register(
    "q222_bfs_khop",
    oracle="WITH " + _PR_EDGES_CTE + f""",
    r0 AS (
        SELECT doc_id AS v, CAST(0 AS BIGINT) AS dist
        FROM documents WHERE doc_id % 97 = 0
    ),
    {_bfs_round_sql('r0', 'r1')},
    {_bfs_round_sql('r1', 'r2')},
    {_bfs_round_sql('r2', 'r3')}
    SELECT v AS doc_id, dist FROM r3
    """,
    survey_ref="north-star graph family: k-hop BFS reachability (frontier "
               "expansion with min-dist), the third iterative-graph "
               "pattern beside PageRank (q177) and label-propagation "
               "components (q110)",
    doc="3-hop breadth-first reachability from a seed set over the "
        "deterministic stride graph (same edge relation as q177 — any "
        "edge table plugs in, e.g. the q110 near-dup pair graph for "
        "transitive contamination closure). Each round is ONE equi-join "
        "frontier expansion plus a min-dist aggregate, lineage cut per "
        "round; state is the visited set, never the edge set, so at "
        "100 TB the loop is the standard Pregel shape with edges "
        "pre-partitioned by src.",
)
def q222_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stats = docs.agg(F.count("*").alias("n"))
    edges = (
        docs.select(F.col("doc_id").alias("src"))
        .crossJoin(F.broadcast(stats))
        .select(
            "src",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
            "n",
        )
        .select(
            "src",
            ((F.col("src") + F.col("k") * _PR_STRIDE) % F.col("n")).alias(
                "dst"
            ),
        )
        .filter(F.col("dst") != F.col("src"))
    )
    # joined every frontier round: materialize once. Corpus-scaled explode
    # output -> repartition by the frontier join key + DISK_ONLY.
    edges = checkpoint_big(edges, "src")
    reached = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("v"), F.lit(0).cast("long").alias("dist")
    )
    for _ in range(3):
        expanded = reached.join(edges, reached.v == edges.src).select(
            F.col("dst").alias("v"), (F.col("dist") + 1).alias("dist")
        )
        reached = (
            reached.unionByName(expanded)
            .groupBy("v")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint()
        )
    return reached.select(F.col("v").alias("doc_id"), "dist")


def lpa_rounds(uedges: DataFrame, labels: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label-propagation rounds over an undirected edge
    relation (src, dst) starting from (v, label): every node adopts the
    majority neighbor label, ties to the smallest label, isolated nodes
    keep theirs. The production loop of q229 — also exercised directly by
    the two-triangle unit test."""
    for _ in range(rounds):
        votes = (
            uedges.join(labels.withColumnRenamed("v", "dst"), "dst")
            .groupBy("src", "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = W.partitionBy("src").orderBy(F.desc("cnt"), "label")
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("v"), F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "v", "left")
            .select("v", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint()
        )
    return labels


def _lpa_round_sql(prev: str, r: int) -> str:
    """One synchronous label-propagation round: each node adopts the most
    frequent label among its undirected neighbors; ties break to the
    smallest label, so the round is deterministic on any engine."""
    return f"""
    best{r} AS (
        SELECT v, label FROM (
            SELECT u.src AS v, l.label,
                   row_number() OVER (
                       PARTITION BY u.src
                       ORDER BY count(*) DESC, l.label) AS rn
            FROM uedges u JOIN {prev} l ON l.v = u.dst
            GROUP BY u.src, l.label
        ) WHERE rn = 1
    ),
    l{r} AS (
        SELECT p.v, COALESCE(b.label, p.label) AS label
        FROM {prev} p LEFT JOIN best{r} b ON b.v = p.v
    )"""


@register(
    "q229_label_propagation",
    # synchronous LPA, 2 unrolled rounds on the undirected q177 citation
    # graph; init label = node id. Majority vote with (count desc, label)
    # tie-break makes every round deterministic — async/random-order LPA
    # is not restatable across engines.
    oracle="WITH "
    + _PR_EDGES_CTE
    + """,
    uedges AS (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ),
    l0 AS (SELECT v, v AS label FROM nodes),
    """
    + _lpa_round_sql("l0", 1)
    + ","
    + _lpa_round_sql("l1", 2)
    + """
    SELECT v AS doc_id, label AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
               AS community_size
    FROM l2
    """,
    survey_ref="engine-general iterative graph algorithms (beside q110 "
               "components, q177 PageRank, q202 triangles, q222 BFS): "
               "community detection — the cluster-then-sample corpus "
               "curation step",
    doc="Label-propagation community detection (Raghavan et al. 2007), "
        "synchronous variant: every node simultaneously adopts the "
        "majority label of its undirected neighbors, ties to the "
        "smallest label; 2 unrolled rounds from identity labels. Each "
        "round is one groupBy((node, label)) shuffle + a per-node top-1 "
        "window sharing the same partitioning, with labels "
        "localCheckpoint'ed to cut lineage — the Pregel shape of q177 "
        "with a mode() vote instead of a sum.",
)
def q229_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stats = docs.agg(F.count("*").alias("n"))
    edges = (
        docs.select(F.col("doc_id").alias("src"))
        .crossJoin(F.broadcast(stats))
        .select(
            "src",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
            "n",
        )
        .select(
            "src",
            ((F.col("src") + F.col("k") * _PR_STRIDE) % F.col("n")).alias(
                "dst"
            ),
        )
        .filter(F.col("dst") != F.col("src"))
    )
    # corpus-scaled symmetric edge set read every LPA round: repartition
    # by the vote-join key (dst) + DISK_ONLY
    uedges = checkpoint_big(
        edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        ).distinct(),
        "dst",
    )
    labels = docs.select(
        F.col("doc_id").alias("v"), F.col("doc_id").alias("label")
    )
    labels = lpa_rounds(uedges, labels, rounds=2)
    wsz = W.partitionBy("label")
    return labels.select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("community"),
        F.count("*").over(wsz).cast("long").alias("community_size"),
    )


@register(
    "q265_stream_stream_semi_join",
    # the third member of the stream-stream join family (q179 inner,
    # q210 left outer): LEFT SEMI — "which clicks converted?" — emits
    # each matched click exactly ONCE regardless of how many purchases
    # land in its attribution window. The batch twin is EXISTS.
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase'
            AND p.user_id = c.user_id
            AND p.ts >= c.ts
            AND p.ts < c.ts + INTERVAL '30 minutes'
      )
    """,
    survey_ref="§2B streaming completion: stream-STREAM left-semi join "
               "under two-sided watermarks — dedup-on-match conversion "
               "flagging (q179 inner / q210 left-outer complete the "
               "family)",
    doc="Stream-stream LEFT SEMI join: both event streams watermark 1 "
        "hour, the time-range condition bounds both state buffers to "
        "the watermark horizon, and a click emits AT MOST ONCE — on "
        "its first matching purchase — with no purchase columns ever "
        "buffered for output. The exactly-once-per-match emission is "
        "what distinguishes semi from inner (which fans out per "
        "purchase); the batch oracle is the decorrelated EXISTS.",
)
def q265_stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks, purchases = _click_purchase_streams(
        spark, sf_dir, with_value=False
    )
    joined = clicks.join(
        purchases, F.expr(_CLICK_PURCHASE_JOIN_COND), "left_semi"
    ).select(
        "click_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
    )
    return _run_append_sink(spark, joined, "q265_mem")
