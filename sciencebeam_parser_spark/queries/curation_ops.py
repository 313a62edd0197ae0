"""Corpus-curation operators, round 4 (north-star extensions): statistical
language-model filtering, model-based quality classification, weighted
corpus sampling, per-domain caps, stream-static enrichment, and the
binned interval join.

These complete the LLM-pipeline family (q60-q69 dedup/similarity, q125-q128
corpus shaping, q139-q146 quality/stats, q152/q153 end-to-end + decontam)
with the remaining steps a CCNet/DCLM-style curation pipeline runs:

* **bigram LM scoring** (q168) — the KenLM-perplexity filter re-expressed
  relationally: the LM is *trained on the corpus itself* as a bigram count
  table (one groupBy), and scoring is an equi-join of each document's
  bigrams against that table. No model binary, no UDF — the whole thing is
  two hash aggregates and two joins, all map-side-combinable.
* **linear quality classifier** (q169) — the fastText-style learned filter
  with a fixed literal weight vector over hand-computed features; a pure
  projection (the inference step of model-based filtering without the
  training loop).
* **weighted priority sampling** (q171) — Duffield-style priority sampling
  (priority = weight / uniform-hash) made fully deterministic by deriving
  the uniform from md5(doc_id); top-k compiles to TakeOrderedAndProject,
  so no global sort materializes at any scale.
* **per-domain cap** (q172) — the Common-Crawl "at most N pages per
  domain" rule as one ranked window, deterministic via hash ordering.
* **stream-static join** (q170) — Structured Streaming's dimension-
  enrichment pattern: a file stream joined against a static broadcast
  dim, then aggregated; the batch SQL twin is the oracle.
* **binned interval join** (q173) — the range-join-to-equi-join rewrite:
  intervals explode into the fixed-width time bins they overlap, points
  carry their bin, and the join runs on (key, bin) with an exact residual
  filter — the standard trick that turns an O(n*m) theta join into a
  shuffle-bounded equi join at 100 TB.

Engine anchor: the reference has no corpus-curation layer (its unit is one
document, app/parser.py:516-527); these are the north-star additions the
task brief lists as first-class.
"""
from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import scratch_dir, unique_name
from sciencebeam_parser_spark.utils import checkpoint_big
from sciencebeam_parser_spark.queries.text_ops import (
    _LSH_PAIRS_SQL,
    _WORDS_SQL,
    _md5_long,
    _md5_long_sql,
    _words,
)

# words with positions, as a DuckDB CTE (mirrors docpipe._TOKENS_CTE but on
# the shared lowercase alnum tokenization _WORDS_SQL)
_WORDPOS_CTE = f"""
    wordpos AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, w
        FROM (
            SELECT doc_id,
                   unnest({_WORDS_SQL}) AS w,
                   unnest(range(1, len({_WORDS_SQL}) + 1)) AS pos
            FROM documents
        )
    ),
    bigrams AS (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM wordpos a
        JOIN wordpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    )
"""


def _bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per in-document word bigram.

    zip_with pairs each word with its successor (the shorter tail is
    null-padded; the pad row is filtered), so the explode happens once —
    no positional self-join on the Spark side.
    """
    docs = table(spark, sf_dir, "documents")
    ws = _words()
    pairs = F.zip_with(
        ws,
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(1))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        docs.select("doc_id", F.explode(pairs).alias("bg"))
        .filter(F.col("bg.w2").isNotNull())
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


# per-document LM scores as a reusable CTE chain (q168 result set; q176
# derives its percentile threshold from the same `scored` relation)
_LM_SCORED_SQL = "WITH " + _WORDPOS_CTE + """,
    lm AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bigrams GROUP BY w1, w2
    ),
    uni AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1
    ),
    vocab AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM lm),
    scored AS (
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(-log2((lm.c12 + 1.0) / (uni.c1 + vocab.v))), 4)
                   AS avg_nll
        FROM bigrams d
        JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
        JOIN uni ON d.w1 = uni.w1
        CROSS JOIN vocab
        GROUP BY d.doc_id
    )
"""


@register(
    "q168_bigram_lm_score",
    oracle=_LM_SCORED_SQL + """
    SELECT doc_id, n_bigrams, avg_nll,
           CASE WHEN avg_nll > 9.0 THEN TRUE ELSE FALSE END
               AS high_perplexity
    FROM scored
    """,
    survey_ref="north-star text analysis: statistical LM filtering "
               "(CCNet-style perplexity gate) — the corpus-trained bigram "
               "LM as a count table, scoring as an equi-join",
    doc="Bigram-LM document scoring: train add-one-smoothed conditional "
        "probabilities P(w2|w1) from the corpus itself (groupBy counts), "
        "then score every document's mean negative log2-likelihood by "
        "joining its bigrams back against the LM. High-perplexity "
        "documents (avg_nll > 9 bits) are flagged — the statistical twin "
        "of the rule-based q139 gate. Scale: the LM table is vocabulary-"
        "bounded (grows ~O(corpus^0.7), Heaps' law), aggregates are "
        "map-side partial, and the scoring joins are equi-joins on word "
        "keys; head-word skew ('the') is AQE skew-join territory, noted "
        "per-key salting is the manual fallback.",
)
def q168_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _lm_scored(spark, sf_dir)
    return out.select(
        "doc_id",
        "n_bigrams",
        "avg_nll",
        (F.col("avg_nll") > 9.0).alias("high_perplexity"),
    )


def _lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll) — the bigram-LM scoring pipeline."""
    bg = _bigrams(spark, sf_dir)
    # the vocabulary-bounded LM table feeds three branches (unigram
    # marginals, the 1-row vocab broadcast, the scoring join); without a
    # checkpoint each embedded the corpus bigram-explode+count subtree.
    # bg itself stays unmaterialized: it has exactly two consumers (LM
    # build + scoring join), and two streaming passes over the corpus
    # beat materializing a bigger-than-the-corpus bigram relation.
    lm = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)
    )
    uni = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = lm.agg(F.countDistinct("w2").alias("v"))
    # vocab is one row — broadcast nested-loop join is the right plan
    scored = (
        bg.join(lm, ["w1", "w2"])
        .join(uni, ["w1"])
        .crossJoin(F.broadcast(vocab))
    )
    nll = -F.log2((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(nll), 4).alias("avg_nll"),
    )


# fixed literal weights — the inference half of a trained linear filter
# (fastText/DCLM-style); deterministic by construction
_QC_BIAS = -3.0
_QC_W_NWORDS = 0.002
_QC_W_MWL = 0.5
_QC_W_SYM = -8.0
_QC_W_STOP = 6.0

_STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "for")
_STOPWORDS_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@register(
    "q169_quality_classifier",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({_WORDS_SQL}) AS BIGINT) AS n_words,
               round(list_sum([len(x) FOR x IN {_WORDS_SQL}]) * 1.0
                     / greatest(len({_WORDS_SQL}), 1), 4) AS mean_word_len,
               round(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     * 1.0 / greatest(len(text), 1), 4) AS symbol_ratio,
               round(len([x FOR x IN {_WORDS_SQL}
                          IF x IN {_STOPWORDS_SQL}]) * 1.0
                     / greatest(len({_WORDS_SQL}), 1), 4) AS stop_ratio
        FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_ratio,
           round({_QC_BIAS} + {_QC_W_NWORDS} * n_words
                 + {_QC_W_MWL} * mean_word_len
                 + {_QC_W_SYM} * symbol_ratio
                 + {_QC_W_STOP} * stop_ratio, 6) AS logit,
           CASE WHEN {_QC_BIAS} + {_QC_W_NWORDS} * n_words
                     + {_QC_W_MWL} * mean_word_len
                     + {_QC_W_SYM} * symbol_ratio
                     + {_QC_W_STOP} * stop_ratio > 0
                THEN TRUE ELSE FALSE END AS keep
    FROM m
    """,
    survey_ref="north-star text analysis: model-based quality filter "
               "(linear classifier inference over handcrafted features, "
               "fixed weight vector)",
    doc="Learned-filter inference as a projection: four per-document "
        "features (word count, mean word length, symbol ratio, stopword "
        "ratio — each rounded so both engines agree at boundaries) are "
        "combined by a literal weight vector into a logit; keep = logit "
        "> 0. Zero shuffles at any scale, whole-stage codegen end to "
        "end; swapping the literals for a broadcast weights row upgrades "
        "this to real trained weights without changing the plan.",
)
def q169_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = _words()
    n_words = F.size(words).cast("long")
    word_chars = F.aggregate(words, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_word_len = F.round(
        word_chars / F.greatest(F.size(words), F.lit(1)), 4
    )
    symbols = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
    symbol_ratio = F.round(
        symbols / F.greatest(F.length("text"), F.lit(1)), 4
    )
    stop_ratio = F.round(
        F.size(F.filter(words, lambda x: x.isin(*_STOPWORDS)))
        / F.greatest(F.size(words), F.lit(1)),
        4,
    )
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        stop_ratio.alias("stop_ratio"),
    )
    logit = (
        F.lit(_QC_BIAS)
        + F.lit(_QC_W_NWORDS) * F.col("n_words")
        + F.lit(_QC_W_MWL) * F.col("mean_word_len")
        + F.lit(_QC_W_SYM) * F.col("symbol_ratio")
        + F.lit(_QC_W_STOP) * F.col("stop_ratio")
    )
    return m.select(
        "*",
        F.round(logit, 6).alias("logit"),
        (logit > 0).alias("keep"),
    )


@register(
    "q170_streaming_static_join",
    # batch twin of the stream-static enrichment: every streamed event is
    # joined to the static customer dim on user_id = c_custkey, then
    # aggregated per (segment, event_type). user_id range sits inside the
    # customer key range at every sf, so the inner join keeps all events.
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    survey_ref="§2B streaming: stream-static join (dimension enrichment "
               "of a file stream against a batch table, then stateful "
               "agg) — the gazetteer/lookup pattern (A31 config dims) in "
               "streaming form",
    doc="Structured Streaming stream-static join: readStream over events "
        "joined to the static customer dimension (Spark re-plans the "
        "static side per micro-batch; small dims broadcast), aggregated "
        "per (segment, event_type) in complete mode. Hash-matches the "
        "batch SQL twin — stream/batch unification on a two-table plan. "
        "At scale the static side refreshes per batch, so slowly-changing "
        "dims are picked up without restarting the query.",
)
def q170_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.queries.events_ops import (
        _events_stream,
        _finish_memory_sink,
        _start_bounded_stream,
    )

    stream = _events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey
    )
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = unique_name("q170_mem")
    writer = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    _start_bounded_stream(spark, writer)
    return _finish_memory_sink(spark, name)


@register(
    "q171_weighted_sample",
    # Duffield priority sampling with a deterministic uniform: u =
    # md5(doc_id)/2^60, priority = weight/u computed as one IEEE double
    # division (identical bit pattern on both engines — no libm calls).
    oracle=f"""
    SELECT doc_id, source, n_chars,
           round(CAST(n_chars AS DOUBLE) * 1152921504606846976.0
                 / {_md5_long_sql("CAST(doc_id AS VARCHAR)")}, 6)
               AS priority
    FROM documents
    ORDER BY CAST(n_chars AS DOUBLE) * 1152921504606846976.0
             / {_md5_long_sql("CAST(doc_id AS VARCHAR)")} DESC, doc_id
    LIMIT 100
    """,
    survey_ref="north-star corpus shaping: weighted (size-biased) corpus "
               "sampling — priority sampling with a hash-derived uniform, "
               "deterministic and re-runnable (extends the uniform q125 / "
               "stratified q144 family)",
    doc="Weighted top-k corpus sample: priority = n_chars / "
        "uniform(md5(doc_id)); the k highest-priority documents form a "
        "size-biased sample (Duffield/Lund/Thorup priority sampling — "
        "inclusion probability proportional to weight). Deterministic: "
        "the uniform comes from md5, and the priority is a single IEEE "
        "double division both engines compute bit-identically. The top-k "
        "compiles to TakeOrderedAndProject (per-partition heaps + driver "
        "merge of k rows) — no global sort at any corpus size.",
)
def q171_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    u_scaled = _md5_long(F.col("doc_id").cast("string"))  # u * 2^60
    priority = (
        F.col("n_chars").cast("double") * F.lit(1152921504606846976.0)
        / u_scaled
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            priority.alias("_p"),
        )
        .orderBy(F.desc("_p"), F.asc("doc_id"))
        .limit(100)
        .select(
            "doc_id", "source", "n_chars", F.round("_p", 6).alias("priority")
        )
    )


@register(
    "q172_domain_cap",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS domain_rank
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_md5_long_sql("CAST(doc_id AS VARCHAR)")},
                            doc_id) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
    survey_ref="north-star corpus shaping: per-domain document cap (the "
               "Common-Crawl 'at most N pages per host' rule) — ranked "
               "window + filter",
    doc="Per-domain cap: keep at most 10 documents per source, chosen by "
        "hash rank so the selection is deterministic and unbiased by "
        "storage order. One shuffle on the domain key; rank-filter "
        "windows push the cap into the sort via WindowGroupLimit, so "
        "only ~cap rows per domain survive the exchange at scale. "
        "Skewed mega-domains are exactly the rows the cap discards, so "
        "the skew self-heals downstream.",
)
def q172_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        _md5_long(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source", F.col("rn").cast("long").alias("domain_rank"))
    )


@register(
    "q173_interval_bin_join",
    # exact twin: plain theta join (point in [start, start+5min)) — tiny
    # at oracle scale; the Spark side runs the binned equi-join rewrite.
    oracle="""
    SELECT s.event_id AS signup_id,
           CAST(count(e.event_id) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events s
    JOIN events e
      ON e.user_id = s.user_id
     AND e.ts >= s.ts
     AND e.ts < s.ts + INTERVAL 5 MINUTE
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id
    """,
    survey_ref="§2B joins: range/interval join via the bin-to-equi-join "
               "rewrite (the scalable form of the q19 containment filter "
               "and the q136 as-of join)",
    doc="Interval join at scale: each 5-minute signup window explodes "
        "into the two 300-second time bins it can overlap, points carry "
        "their own bin, and the join runs as an equi-join on (user_id, "
        "bin) with the exact range as a residual filter — O(n+m) shuffle "
        "instead of the per-user quadratic a theta join would run. A "
        "point's bin is unique, so no post-join dedup is needed. The "
        "DuckDB oracle states the same semantics as the naive theta "
        "join.",
)
def q173_interval_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    points = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.floor(sec / 300).alias("p_bin"),
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("s_ts"),
            F.floor(sec / 300).alias("s_bin"),
        )
        # a [t, t+300s) window overlaps bin(t) and bin(t)+1 only
        .withColumn("bin", F.explode(F.array(F.col("s_bin"), F.col("s_bin") + 1)))
    )
    joined = signups.join(
        points,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("p_bin") == F.col("bin"))
        & (F.col("ts") >= F.col("s_ts"))
        & (F.col("ts") < F.col("s_ts") + F.expr("INTERVAL 5 MINUTES")),
    )
    return joined.groupBy("signup_id").agg(
        F.count("event_id").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "q174_jsonl_shard_sink",
    # the write is real (JSONL shards partitioned by source); the checked
    # relation is the read-back per-shard manifest, which SQL predicts
    oracle="""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY source
    """,
    survey_ref="§2B sinks: JSONL training-shard export (the corpus output "
               "format LLM trainers read) — partitioned text sink + "
               "schema-on-read round trip",
    doc="Training-shard export: the corpus written as JSON-lines files "
        "partitioned by source shard (one directory per shard, the "
        "layout data loaders expect), read back with spark.read.json, "
        "and verified via a per-shard manifest (doc count, char volume, "
        "language count) the oracle predicts from the source table. At "
        "scale the JSON encode/decode is JVM-native (no Python "
        "boundary) and the write parallelizes per input partition.",
)
def q174_jsonl_shard_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    out_dir = scratch_dir(spark, "jsonl", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    docs.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).partitionBy("source").json(out_dir)
    back = spark.read.json(out_dir)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# q296's last-run band-store counters — the O(batch)-not-O(index) pin
_LAST_Q296_STORE_STATS: dict = {}


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over documents.parquet — the incremental-ingest source."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(docs_path):
        # directory layout (cluster writer output) — the glob filter
        # below would silently match no leaf files
        return spark.readStream.schema(schema).parquet(docs_path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@register(
    "q175_streaming_incremental_dedup",
    # arriving half = odd doc_ids; already-ingested half = even doc_ids.
    # A new doc survives iff its exact text hash is absent from the
    # ingested corpus — the batch anti-join states the same set.
    oracle="""
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id % 2 = 1
      AND NOT EXISTS (
          SELECT 1 FROM documents i
          WHERE i.doc_id % 2 = 0 AND md5(i.text) = md5(d.text)
      )
    """,
    survey_ref="north-star dedup + §2B streaming composed: incremental "
               "corpus ingestion — stream-static LEFT ANTI join of "
               "arriving documents against the already-ingested corpus's "
               "hash set",
    doc="Incremental exact dedup: newly arriving documents (streamed) "
        "anti-join on content hash against the static ingested corpus, "
        "so only genuinely new content lands — the daily-crawl-increment "
        "pattern. The static side is re-planned every micro-batch "
        "(yesterday's ingest is visible today without restarting); at "
        "scale the hash set is a parquet table and the anti-join "
        "shuffles only the increment. Intra-batch duplicates are q135's "
        "dropDuplicatesWithinWatermark composed upstream.",
)
def q175_streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.queries.events_ops import (
        _finish_memory_sink,
        _start_bounded_stream,
    )

    ingested = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
    )
    arriving = (
        _documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .withColumn("h", F.md5("text"))
    )
    fresh = arriving.join(ingested, on="h", how="left_anti").select(
        "doc_id", "source"
    )
    name = unique_name("q175_mem")
    writer = (
        fresh.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _start_bounded_stream(spark, writer)
    return _finish_memory_sink(spark, name)


@register(
    "q176_perplexity_percentile_gate",
    # threshold = exact 90th percentile (linear interpolation, the
    # (n-1)*p definition both engines implement) of the rounded scores,
    # itself rounded before the comparison so the keep set is exact
    oracle=_LM_SCORED_SQL + """,
    thr AS (
        SELECT round(quantile_cont(avg_nll, 0.9), 4) AS threshold
        FROM scored
    )
    SELECT s.doc_id, s.avg_nll, thr.threshold,
           CASE WHEN s.avg_nll <= thr.threshold THEN TRUE ELSE FALSE END
               AS keep
    FROM scored s CROSS JOIN thr
    """,
    survey_ref="north-star text analysis: data-dependent quality "
               "threshold (drop the worst decile by corpus percentile) — "
               "the two-pass global-statistic → broadcast → filter "
               "pattern",
    doc="Percentile-gated perplexity filter: the keep threshold is not a "
        "constant but the corpus's own 90th-percentile LM score (exact "
        "interpolated percentile), broadcast back over the scores — the "
        "relative quality cut CCNet applies per language bucket. The "
        "one-row threshold joins as a broadcast nested loop; the scored "
        "relation is checkpointed once (localCheckpoint — truncates "
        "lineage and materializes to executor storage) so the threshold "
        "pass and the gate pass share one LM computation.",
)
def q176_perplexity_percentile_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = _lm_scored(spark, sf_dir).localCheckpoint()
    thr = scored.agg(
        F.round(F.percentile("avg_nll", F.lit(0.9)), 4).alias("threshold")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "avg_nll",
        "threshold",
        (F.col("avg_nll") <= F.col("threshold")).alias("keep"),
    )


@register(
    "q189_corrupt_record_handling",
    # schema-on-read resilience: a JSON line per doc, every 7th truncated
    # (unterminated string — unambiguously malformed on any parser).
    # Spark's PERMISSIVE from_json nulls every field of a malformed row;
    # DuckDB gates on json_valid. Both reduce to the same (is_valid,
    # parsed fields) relation.
    oracle="""
    WITH lines AS (
        SELECT doc_id,
               '{"id": ' || CAST(doc_id AS VARCHAR)
                   || ', "lang": "' || lang || '"}' AS line
        FROM documents
    ),
    corrupted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN substr(line, 1, len(line) - 5)
                    ELSE line END AS raw
        FROM lines
    )
    SELECT doc_id,
           CASE WHEN json_valid(raw) THEN TRUE ELSE FALSE END AS is_valid,
           CASE WHEN json_valid(raw)
                THEN CAST(json_extract(raw, '$.id') AS BIGINT) END
               AS parsed_id,
           CASE WHEN json_valid(raw)
                THEN json_extract_string(raw, '$.lang') END AS parsed_lang
    FROM corrupted
    """,
    survey_ref="§2B JSON scalar family + engine-general ingest "
               "robustness: malformed-record tolerance on schema-on-read "
               "(the PERMISSIVE-mode contract a 100 TB JSONL ingest "
               "depends on — bad rows isolate, the job never dies)",
    doc="Corrupt-record handling: JSONL payloads with every 7th line "
        "deterministically truncated, parsed via from_json in PERMISSIVE "
        "mode — malformed rows surface as null-field rows (is_valid "
        "false) instead of failing the scan, the quarantine-not-crash "
        "semantics required when reading trillions of crawled lines. "
        "Pure projection, no shuffle.",
)
def q189_corrupt_record_handling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    line = F.concat(
        F.lit('{"id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('"}'),
    )
    lined = docs.withColumn("line", line)
    raw = F.when(
        F.col("doc_id") % 7 == 0,
        F.expr("substring(line, 1, length(line) - 5)"),
    ).otherwise(F.col("line"))
    parsed = F.from_json(raw, "id bigint, lang string")
    return lined.select(
        "doc_id",
        (parsed["id"].isNotNull() & parsed["lang"].isNotNull()).alias(
            "is_valid"
        ),
        parsed["id"].alias("parsed_id"),
        parsed["lang"].alias("parsed_lang"),
    )


@register(
    "q245_streaming_ingest_pipeline",
    # the streaming-ingest capstone mirroring the batch q152 corpus
    # build: REAL readStream -> quality gate -> stream-static anti-join
    # against the already-ingested set -> foreachBatch partitioned JSONL
    # shard sink -> read-back manifest. Everything the stream admits and
    # writes is deterministic, so the oracle predicts the manifest from
    # the source table directly.
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 2 = 1 AND n_chars >= 200
    GROUP BY lang
    """,
    survey_ref="§2B streaming capstone: incremental corpus ingest as ONE "
               "streaming job (quality gate + incremental dedup + "
               "partitioned shard sink) — the streaming twin of q152's "
               "batch corpus pipeline",
    doc="Streaming corpus ingest end-to-end: the document stream passes "
        "a quality gate (n_chars >= 200), anti-joins the static "
        "already-ingested id set (even doc_ids — the q175 incremental-"
        "dedup shape), and lands in lang-partitioned JSONL shards via "
        "foreachBatch; the returned manifest re-reads the shards, so "
        "any loss in the gate, the anti-join, or the sink breaks the "
        "hash. At scale this is the production shape: the static side "
        "is a broadcast (or bloom) of ingested keys, the sink appends "
        "per micro-batch, and the manifest is the ingest ledger.",
)
def q245_streaming_ingest_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.queries.events_ops import (
        _start_bounded_stream,
    )

    docs = table(spark, sf_dir, "documents")
    known = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    stream = (
        _documents_stream(spark, sf_dir)
        .filter(F.col("n_chars") >= 200)
        .join(known, "doc_id", "left_anti")
    )
    out_dir = scratch_dir(spark, "ingest", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        # per-micro-batch append into the shard layout; partition columns
        # factor out of the JSON payload like the q174 sink
        batch_df.select("doc_id", "lang", "n_chars").write.mode(
            "append"
        ).partitionBy("lang").json(out_dir)

    writer = (
        stream.writeStream.foreachBatch(sink_batch)
        .trigger(availableNow=True)
    )
    _start_bounded_stream(spark, writer)
    back = spark.read.json(out_dir)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# DSIR importance resampling (q255)
# --------------------------------------------------------------------------

_DSIR_TOPN = 100

# raw LM = the whole corpus; target LM = the English subset (the "target
# domain" stand-in). Both are add-one-smoothed bigram models; unseen
# target bigrams fall back to 0-count smoothing via LEFT JOIN + coalesce.
_DSIR_SQL = "WITH " + _WORDPOS_CTE + """,
    lm AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bigrams GROUP BY w1, w2
    ),
    uni AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1
    ),
    vocab AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM lm),
    tgt AS (
        SELECT b.w1, b.w2, CAST(count(*) AS BIGINT) AS t12
        FROM bigrams b JOIN documents d ON d.doc_id = b.doc_id
        WHERE d.lang = 'en'
        GROUP BY b.w1, b.w2
    ),
    tuni AS (
        SELECT w1, CAST(sum(t12) AS BIGINT) AS t1 FROM tgt GROUP BY w1
    ),
    tvocab AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS tv FROM tgt),
    scored AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(
                   -log2((lm.c12 + 1.0) / (uni.c1 + vocab.v))
                   - (CASE WHEN tvocab.tv = 0 THEN NULL
                      ELSE -log2((coalesce(tgt.t12, 0) + 1.0)
                                 / (coalesce(tuni.t1, 0) + tvocab.tv))
                      END)
               ), 4) AS imp_bits
        FROM bigrams b
        JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
        JOIN uni ON b.w1 = uni.w1
        LEFT JOIN tgt ON b.w1 = tgt.w1 AND b.w2 = tgt.w2
        LEFT JOIN tuni ON b.w1 = tuni.w1
        CROSS JOIN vocab CROSS JOIN tvocab
        GROUP BY b.doc_id
    )
"""


@register(
    "q255_dsir_importance",
    oracle=_DSIR_SQL + f"""
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, n_bigrams, imp_bits
    FROM (SELECT s.*, row_number() OVER (
              ORDER BY imp_bits DESC, doc_id) AS rnk
          FROM scored s)
    WHERE rnk <= {_DSIR_TOPN}
    """,
    survey_ref="north-star corpus shaping: DSIR (Xie et al. 2023) "
               "importance resampling — data selection by target-vs-raw "
               "LM likelihood ratio (the learned upgrade of q171's "
               "weighted sample, built on q168's bigram LM)",
    doc="DSIR data selection: two add-one-smoothed bigram LMs train as "
        "count tables in one pass each — `raw` over the whole corpus, "
        "`target` over the English subset (the target-domain stand-in); "
        "every document's importance weight is its mean "
        "log2 p_target - log2 p_raw over its own bigrams (= raw NLL - "
        "target NLL, in bits), and the top-100 by weight are selected. "
        "Unseen target bigrams hit the smoothing floor via LEFT JOIN + "
        "coalesce(0) rather than dropping rows. Scale: both LM tables "
        "are vocabulary-bounded, scoring is equi-joins on word keys, "
        "and the final top-k compiles to TakeOrderedAndProject — no "
        "global sort. Head-word skew is AQE skew-join territory.",
)
def q255_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # feeds both LMs + scoring; O(corpus bigrams) rows born in
    # input-split-sized explode partitions -> repartition + DISK_ONLY
    bg = checkpoint_big(_bigrams(spark, sf_dir), "doc_id")
    docs = table(spark, sf_dir, "documents")
    # both LM count tables are vocabulary-bounded and feed three branches
    # each (marginals, 1-row vocab broadcasts, the scoring joins): lazy
    # checkpoints aggregate the checkpointed bigram relation once per LM
    # instead of once per branch (guide §1.2/§5)
    lm = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)
    )
    uni = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = lm.agg(F.countDistinct("w2").alias("v"))
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    tbg = bg.join(en, "doc_id")
    tgt = (
        tbg.groupBy("w1", "w2")
        .agg(F.count("*").alias("t12"))
        .localCheckpoint(eager=False)
    )
    tuni = tgt.groupBy("w1").agg(F.sum("t12").alias("t1"))
    tvocab = tgt.agg(F.countDistinct("w2").alias("tv"))
    scored = (
        bg.join(lm, ["w1", "w2"])
        .join(uni, ["w1"])
        .join(tgt, ["w1", "w2"], "left")
        .join(tuni, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tvocab))
    )
    raw_nll = -F.log2((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    # an EMPTY target domain (tv = 0) must degrade to NULL importance,
    # not raise DIVIDE_BY_ZERO under the session's ANSI mode
    tgt_nll = F.when(F.col("tv") == 0, F.lit(None).cast("double")).otherwise(
        -F.log2(
            (F.coalesce(F.col("t12"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("t1"), F.lit(0)) + F.col("tv"))
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg(raw_nll - tgt_nll), 4).alias("imp_bits"),
    )
    # top-N first (TakeOrderedAndProject — no global sort materializes),
    # then rank within the already-tiny selected set
    topn = per_doc.orderBy(F.desc("imp_bits"), "doc_id").limit(_DSIR_TOPN)
    w = W.orderBy(F.desc("imp_bits"), "doc_id")
    return topn.select(
        "doc_id",
        F.row_number().over(w).cast("long").alias("rnk"),
        "n_bigrams",
        "imp_bits",
    )


# --------------------------------------------------------------------------
# CCNet perplexity bucketing (q280)
# --------------------------------------------------------------------------

# q280 reuses the q168 LM-scoring chain verbatim (_LM_SCORED_SQL /
# _lm_scored) — one definition of the tokenization and smoothing, so a
# future fix to q168 cannot un-sync the CCNet split.


@register(
    "q280_ccnet_perplexity_buckets",
    oracle=_LM_SCORED_SQL + """
    SELECT doc_id, n_bigrams, avg_nll AS ppl_bits,
           CASE ntile(3) OVER (ORDER BY avg_nll, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored
    """,
    survey_ref="north-star corpus shaping: CCNet (Wenzek et al. 2020) "
               "perplexity bucketing — the head/middle/tail split that "
               "gates web-crawl quality by LM perplexity (the "
               "self-supervised sibling of q139's heuristic gate and "
               "q255's target-ratio DSIR; same q168 bigram-LM substrate)",
    doc="CCNet quality split: the corpus bigram LM (add-one smoothing, "
        "one count-table pass) scores every document's mean bigram NLL "
        "in bits (monotone in perplexity: ppl = 2^bits), then ntile(3) "
        "over the deterministic (ppl_bits, doc_id) order labels "
        "head/middle/tail equi-depth buckets — head = most fluent, the "
        "slice CCNet keeps for LM training. Scale: LM tables are "
        "vocabulary-bounded, scoring is word-key equi-joins; the ntile "
        "window is global but runs over ONE ROW PER DOCUMENT (the "
        "already-aggregated score relation, ~10^9 rows at 100 TB — a "
        "sortable relation, and the q213 histogram sketch substitutes "
        "if even that is too hot). round(.,4) before ranking keeps the "
        "order engine-identical.",
)
def q280_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.global_rank import (
        with_global_rank,
    )

    scored = _lm_scored(spark, sf_dir).withColumnRenamed(
        "avg_nll", "ppl_bits"
    )
    # mode-gated exact tertile (see global_rank.py): single-window
    # locally, two-phase range-partitioned in production
    tiled = with_global_rank(
        scored, ["ppl_bits", "doc_id"], out="_t", ntile_n=3
    )
    return tiled.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "ppl_bits",
        F.when(F.col("_t") == 1, "head")
        .when(F.col("_t") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# Round-6 additions: preference-pair construction (DPO prep), per-source
# curriculum ordering, and the dataset-card stats rollup — the three
# post-curation steps between "filtered corpus" and "training run".
# --------------------------------------------------------------------------

_TOKCOUNT_SQL = "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"


@register(
    "q292_preference_pairs",
    # Per source: rank docs by (token count DESC, doc_id) — integer-exact
    # quality proxy — and pair rank i (chosen pool, top half) with rank
    # n+1-i (rejected pool), so the strongest doc pairs with the weakest.
    # Everything is integer arithmetic on ranks; the pair join is an
    # equi-join on (source, pair_id).
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, {_TOKCOUNT_SQL} AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id ASC) AS rnk,
               count(*) OVER (PARTITION BY source) AS n
        FROM scored
    )
    SELECT c.source,
           CAST(c.rnk AS BIGINT) AS pair_id,
           c.doc_id AS chosen_doc,
           r.doc_id AS rejected_doc,
           c.n_tokens AS chosen_tokens,
           r.n_tokens AS rejected_tokens,
           c.n_tokens - r.n_tokens AS margin
    FROM ranked c
    JOIN ranked r ON r.source = c.source AND r.rnk = c.n + 1 - c.rnk
    WHERE c.rnk * 2 <= c.n
    """,
    survey_ref="north-star training-data pipeline: preference-pair "
               "construction (DPO/RLHF data prep) — chosen/rejected "
               "pairing by per-source quality rank",
    doc="Preference pairs for DPO-style training: per source shard, docs "
        "rank by an integer quality proxy (token count, ties by doc_id) "
        "and rank i pairs with rank n+1-i — best-vs-worst matching, one "
        "pair per top-half doc, margin = quality gap. Per-source windows "
        "keep partitions bounded at any corpus size; the pairing is a "
        "(source, rank) equi-join, never a cross join. Swap the proxy "
        "for a learned reward column and the plan is unchanged.",
)
def q292_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = W.partitionBy("source").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    ranked = scored.select(
        "*",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    )
    c = ranked.alias("c")
    r = ranked.alias("r")
    return (
        c.filter(F.col("c.rnk") * 2 <= F.col("c.n"))
        .join(
            r,
            (F.col("r.source") == F.col("c.source"))
            & (F.col("r.rnk") == F.col("c.n") + 1 - F.col("c.rnk")),
        )
        .select(
            F.col("c.source").alias("source"),
            F.col("c.rnk").alias("pair_id"),
            F.col("c.doc_id").alias("chosen_doc"),
            F.col("r.doc_id").alias("rejected_doc"),
            F.col("c.n_tokens").alias("chosen_tokens"),
            F.col("r.n_tokens").alias("rejected_tokens"),
            (F.col("c.n_tokens") - F.col("r.n_tokens")).alias("margin"),
        )
    )


@register(
    "q293_curriculum_order",
    # Easy-to-hard curriculum per source shard: phase = integer-exact
    # quartile of the (n_tokens ASC, doc_id) rank; within a phase the
    # presentation order is a deterministic md5 shuffle. No ntile (its
    # remainder distribution is the only engine-variant part) — the
    # phase is ((rnk-1)*4)//n + 1, pure integer arithmetic.
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, {_TOKCOUNT_SQL} AS n_tokens,
               {_md5_long_sql("'cur:' || CAST(doc_id AS VARCHAR)")} AS shuf
        FROM documents
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_tokens ASC, doc_id ASC) AS rnk,
               count(*) OVER (PARTITION BY source) AS n
        FROM scored
    )
    SELECT doc_id, source, n_tokens,
           CAST((rnk - 1) * 4 // n + 1 AS BIGINT) AS phase,
           CAST(row_number() OVER (
               PARTITION BY source, (rnk - 1) * 4 // n
               ORDER BY shuf, doc_id) AS BIGINT) AS phase_pos
    FROM ranked
    """,
    survey_ref="north-star training-data pipeline: curriculum ordering "
               "(difficulty-phased presentation with intra-phase shuffle)",
    doc="Curriculum schedule: per source shard, docs rank easy-to-hard "
        "(token count as the difficulty proxy), split into 4 integer-"
        "exact phases ((rank-1)*4//n + 1 — ntile semantics without "
        "ntile's engine-variant remainder placement), and each phase is "
        "deterministically shuffled by an md5 hash so batches within a "
        "phase are order-free. Per-source windows bound every sort; the "
        "output (phase, phase_pos) is the exact read order a data "
        "loader consumes.",
)
def q293_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        _md5_long(F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))).alias(
            "shuf"
        ),
    )
    w = W.partitionBy("source").orderBy(F.asc("n_tokens"), F.asc("doc_id"))
    ranked = scored.select(
        "*",
        F.row_number().over(w).alias("rnk"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    )
    # integer DIV keeps the phase exact at any partition size (no
    # double-division rounding anywhere near the 2^53 cliff)
    phase0 = F.expr("CAST(((rnk - 1) * 4) DIV n AS BIGINT)")
    wp = W.partitionBy("source", phase0).orderBy("shuf", "doc_id")
    return ranked.select(
        "doc_id",
        "source",
        "n_tokens",
        (phase0 + 1).cast("long").alias("phase"),
        F.row_number().over(wp).cast("long").alias("phase_pos"),
    )


@register(
    "q294_dataset_card",
    # Per-source dataset-card row: doc/token/char totals, language
    # diversity, dominant language (mode, ties -> lexicographically
    # smallest), corpus share in basis points (integer-exact: floor of
    # tokens*10000/total), and the short/long doc split.
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, lang,
               {_TOKCOUNT_SQL} AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ),
    lang_counts AS (
        SELECT source, lang, count(*) AS c FROM scored GROUP BY source, lang
    ),
    top_lang AS (
        SELECT source, lang AS dominant_lang FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY c DESC, lang ASC) AS rn
            FROM lang_counts
        ) WHERE rn = 1
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_short_docs
        FROM scored GROUP BY source
    )
    SELECT p.source, p.n_docs, p.total_tokens, p.total_chars, p.n_langs,
           t.dominant_lang, p.n_short_docs,
           CAST(p.total_tokens * 10000 //
                (SELECT sum(total_tokens) FROM per_source) AS BIGINT)
               AS corpus_share_bp
    FROM per_source p JOIN top_lang t ON t.source = p.source
    """,
    survey_ref="north-star training-data pipeline: dataset-card stats "
               "rollup (the corpus documentation artifact every release "
               "ships); §2B two-level aggregation + mode",
    doc="Dataset card per source shard: doc/token/char totals, language "
        "diversity + dominant language (deterministic mode), short-doc "
        "count, and corpus share in integer basis points (floor of "
        "tokens*10000/total — no float division crosses the hash "
        "boundary). Two map-side-combinable aggregations; the global "
        "token total is a 1-row broadcast. At 100 TB this is the "
        "cheapest query in the pipeline and the first thing a data "
        "audit asks for.",
)
def q294_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    # ONE tokenization pass: the language-mode branch and the per-source
    # rollup both aggregate the same per-doc stats, and both reduce to
    # the (source, lang) grain — so the corpus is split/measured once
    # into a sources x langs relation (tiny at any corpus size, lazily
    # checkpointed for its two consumers) and each card column derives
    # from it. Previously the full-text split ran once per branch
    # (guide §1.2: don't recompute; §2.3: aggregate before you reuse).
    sl = (
        scored.groupBy("source", "lang")
        .agg(
            F.count("*").alias("c"),
            F.sum("n_tokens").alias("tok"),
            F.sum("n_chars").alias("ch"),
            F.sum((F.col("n_tokens") < 50).cast("int")).alias("short_c"),
        )
        .localCheckpoint(eager=False)
    )
    wl = W.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top_lang = (
        sl.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("dominant_lang"))
    )
    per_source = sl.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.sum("ch").cast("long").alias("total_chars"),
        # one sl row per present (source, lang): counting non-null lang
        # rows IS countDistinct(lang) at this grain
        F.count(F.when(F.col("lang").isNotNull(), 1))
        .cast("long")
        .alias("n_langs"),
        F.sum("short_c").cast("long").alias("n_short_docs"),
    )
    # per_source is consumed twice (grand-total broadcast + final join)
    # but re-aggregating the checkpointed sources x langs relation is
    # O(tiny) at any scale — cheaper than another checkpoint round trip
    total = per_source.agg(
        F.sum("total_tokens").alias("grand_total")
    )
    return (
        per_source.join(F.broadcast(top_lang), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "total_chars",
            "n_langs",
            "dominant_lang",
            "n_short_docs",
            F.expr(
                "CAST((total_tokens * 10000) DIV grand_total AS BIGINT)"
            ).alias("corpus_share_bp"),
        )
    )


@register(
    "q295_streaming_lsh_dedup",
    # Near-dup twin of q175: arriving (odd) docs are fresh iff NONE of
    # their MinHash-LSH bands collides with any ingested (even) doc's
    # band. The oracle restates the band relation for the full corpus
    # and takes the NOT EXISTS; docs too short to shingle have no bands
    # and are trivially fresh on both sides.
    oracle="WITH " + _LSH_PAIRS_SQL + """
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id % 2 = 1
      AND NOT EXISTS (
          SELECT 1 FROM bands a
          JOIN bands i ON a.band_idx = i.band_idx
                      AND a.band_hash = i.band_hash
          WHERE a.doc_id = d.doc_id AND i.doc_id % 2 = 0
      )
    """,
    survey_ref="north-star dedup (MinHash-LSH) + §2B streaming composed: "
               "incremental NEAR-dup gate — the fuzzy twin of q175's "
               "exact-hash anti-join",
    doc="Streaming incremental near-dup dedup via foreachBatch: each "
        "arriving micro-batch computes its MinHash-LSH bands with the "
        "full BATCH machinery (explode + codegen'd groupBy-min — "
        "measured 4-5x the interpreted fold-expression form at 100x), "
        "semi-joins them against the ingested corpus's persisted band "
        "index to find collided docs, and anti-joins those away; only "
        "genuinely novel content lands. foreachBatch is the production "
        "shape: at-least-once per-batch idempotence (keyed by batch_id), "
        "and the increment is the only thing that shuffles, on "
        "(band_idx, band_hash).",
)
def q295_streaming_lsh_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.queries.events_ops import (
        _start_bounded_stream,
        read_committed_shards,
        write_batch_shard,
    )
    from sciencebeam_parser_spark.queries.text_ops import (
        _minhash_signature,
    )

    def band_struct(b):
        return F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ":", *[F.col(f"m{4 * b + i}") for i in range(4)]
                )
            ).alias("band_hash"),
        )

    def to_bands(docs_df: DataFrame) -> DataFrame:
        sig = _minhash_signature(docs_df)
        return sig.select(
            "doc_id",
            F.explode(F.array(*[band_struct(b) for b in range(4)])).alias(
                "band"
            ),
        ).select("doc_id", "band.band_idx", "band.band_hash")

    # the ingested corpus's LSH band index — persisted once (at scale: a
    # parquet/Delta table the pipeline appends to after each increment)
    ingested_bands = (
        to_bands(
            table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
        )
        .select("band_idx", "band_hash")
        .distinct()
        .localCheckpoint()
    )

    out_dir = scratch_dir(spark, "q295_sink", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        collided = (
            to_bands(batch_df)
            .join(ingested_bands, ["band_idx", "band_hash"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        fresh = batch_df.select("doc_id", "source").join(
            collided, "doc_id", "left_anti"
        )
        # land survivors through the batchId-keyed manifest commit —
        # executor-side shard write, no result row through the driver
        write_batch_shard(fresh, out_dir, batch_id)

    arriving = _documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    writer = (
        arriving.writeStream.foreachBatch(sink_batch)
        .queryName(unique_name("q295_feb"))
        .trigger(availableNow=True)
    )
    _start_bounded_stream(spark, writer)
    return read_committed_shards(
        spark, out_dir, "doc_id long, source string"
    )


@register(
    "q296_streaming_dedup_index_growth",
    # The FULL incremental-dedup loop: the corpus replays through the
    # deterministic Python stream source (doc_id order, 100 rows per
    # micro-batch); each batch's docs are fresh iff none of their LSH
    # bands collides with the index accumulated from STRICTLY EARLIER
    # batches, then the batch's own bands append to the index (dup or
    # not — the index records everything seen). Deterministic batches
    # make the semantics exactly restatable: batch = (rank-1)//100 over
    # doc_id order.
    oracle="WITH " + _LSH_PAIRS_SQL + """,
    bs AS (
        SELECT greatest(100, (count(*) + 4) // 5) AS b FROM documents
    ),
    pos AS (
        SELECT doc_id,
               CAST((row_number() OVER (ORDER BY doc_id) - 1) // bs.b
                    AS BIGINT) AS batch_id
        FROM documents, bs
    ),
    db AS (
        SELECT b.doc_id, b.band_idx, b.band_hash, p.batch_id
        FROM bands b JOIN pos p ON p.doc_id = b.doc_id
    )
    SELECT d.doc_id, p.batch_id
    FROM documents d JOIN pos p ON p.doc_id = d.doc_id
    WHERE NOT EXISTS (
        SELECT 1 FROM db a
        JOIN db e ON a.band_idx = e.band_idx
                 AND a.band_hash = e.band_hash
        WHERE a.doc_id = d.doc_id AND e.batch_id < p.batch_id
    )
    """,
    survey_ref="north-star dedup: the index-GROWTH half of incremental "
               "near-dup (q295 gates against a static index; this one "
               "maintains the index across micro-batches — the complete "
               "daily-crawl loop)",
    doc="Self-bootstrapping streaming dedup: the corpus replays through "
        "the deterministic Python stream source (100 docs per "
        "micro-batch in doc_id order); foreachBatch enriches each "
        "batch's keys from the corpus store, MinHash-bands them with "
        "the codegen'd batch machinery, anti-joins docs whose bands "
        "collide with the APPEND-ONLY persisted band store "
        "(operators/band_store.py), and appends ONLY the batch's own "
        "bands as batchId-keyed, band_idx-partitioned parquet cells "
        "under a versioned put-if-absent manifest commit (the same OCC "
        "protocol as q297/q299-q302) — a retried batch overwrites the "
        "same cells, so idempotence needs no full-index distinct, and "
        "per-batch write cost is O(batch), not O(index); the probe is "
        "a read-only left_semi scan PRUNED by the increment's per-band "
        "hash envelope against per-cell manifest stats.  Every few "
        "appends the store bin-packs undersized cells per band (the "
        "q257 next-fit plan, executed) in an OPTIMIZE commit.  Batch 0 is "
        "all-fresh by construction; every later batch dedups against "
        "everything before it. batchSize scales with the corpus "
        "(max(100, ceil(n/5)) — ~5 increments at any sf, identical "
        "integer arithmetic in the oracle); a production daily-crawl "
        "batch is whatever arrived.",
)
def q296_streaming_dedup_index_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.queries.events_ops import (
        _start_bounded_stream,
    )
    from sciencebeam_parser_spark.queries.text_ops import (
        _minhash_signature,
    )
    from sciencebeam_parser_spark.sources.pydatasource import (
        register_python_datasource,
    )

    register_python_datasource(spark)

    def to_bands(docs_df: DataFrame) -> DataFrame:
        sig = _minhash_signature(docs_df)
        band_cols = [
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ":", *[F.col(f"m{4 * b + i}") for i in range(4)]
                    )
                ).alias("band_hash"),
            )
            for b in range(4)
        ]
        return sig.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("band")
        ).select("doc_id", "band.band_idx", "band.band_hash")

    # the corpus content store the stream's keys enrich from (at scale:
    # the object-store-backed documents table)
    corpus = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )

    from sciencebeam_parser_spark.operators.band_store import (
        AppendOnlyBandStore,
    )

    store = AppendOnlyBandStore(
        spark,
        root=scratch_dir(spark, "q296_bands", sf_dir),
        # ~5 batches per run → one mid-run compaction exercises the
        # executed q257 bin-pack + atomic manifest swap at any sf
        compact_every=3,
    )
    shutil.rmtree(store.root, ignore_errors=True)
    os.makedirs(store.root, exist_ok=True)

    from sciencebeam_parser_spark.queries.events_ops import (
        read_committed_shards,
        write_batch_shard,
    )

    out_dir = os.path.join(store.root, "_fresh_out")
    state: dict = {"seen": 0, "n_batches": 0}

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        # input count and bands materialization share ONE job (guide §5:
        # each driver action is a sequential round trip per micro-batch):
        # every doc emits exactly 4 bands (explode of a 4-struct array of
        # never-null md5s) and the stream replays this same corpus, so
        # count(bands)/4 IS the batch's input row count — the separate
        # batch_df.count() job is gone, and the count action doubles as
        # the lazy checkpoint's materializer.
        enriched = batch_df.select("doc_id").join(corpus, "doc_id")
        bands = to_bands(enriched).localCheckpoint(eager=False)
        n_in = bands.count() // 4
        if n_in == 0:
            return
        # read-only left_semi probe against the manifest-listed shards
        collided = store.probe(bands)
        fresh = batch_df.select("doc_id").join(
            collided, "doc_id", "left_anti"
        )
        # survivors land executor-side through the batchId-keyed
        # manifest commit — no result row crosses the driver
        write_batch_shard(
            fresh.select(
                "doc_id", F.lit(batch_id).cast("long").alias("batch_id")
            ),
            out_dir,
            batch_id,
        )
        # append ONLY this batch's bands (batchId-keyed shard + atomic
        # manifest commit — O(batch) write, never an index rewrite)
        store.append(bands, batch_id)
        state["n_batches"] += 1
        # progress marker LAST: the driver's poll loop stops the query
        # once every row is seen — incrementing before the batch's
        # output/index writes would let the stop kill them mid-flight
        state["seen"] += n_in

    expected = corpus.count()
    # ~5 increments at any corpus size (min 100 docs per batch) — the
    # SAME integer formula the oracle's bs CTE states
    batch_size = max(100, (expected + 4) // 5)
    stream = (
        spark.readStream.format("sbp_doc_stream")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("batchSize", str(batch_size))
        .load()
    )
    # the simple Python stream reader does not terminate under
    # availableNow (same contract as q282): run on a processing-time
    # trigger and poll until every corpus row has been seen, then stop
    import time as _time

    writer = (
        stream.writeStream.foreachBatch(sink_batch)
        .queryName(unique_name("q296_feb"))
        .trigger(processingTime="0 seconds")
    )
    q = _start_bounded_stream(spark, writer, timeout=1, expect_timeout=True)
    try:
        # completeness poll, not a data-path bound: the deadline scales
        # with corpus size (1k docs/s floor — q296 measured ~5k docs/s
        # at 100x) so a 10x-bigger replay doesn't trip a fixed ceiling
        deadline = _time.time() + max(240, expected // 1000)
        while _time.time() < deadline:
            if state["seen"] >= expected:
                break
            _time.sleep(0.3)
        else:  # pragma: no cover - timeout means missing batches
            raise TimeoutError(
                f"doc stream absorbed {state['seen']} of {expected} rows"
            )
    finally:
        q.stop()
    # behavior pin surface: tests assert per-append writes are O(batch)
    # (never cumulative) and that compaction actually ran + bin-packed
    _LAST_Q296_STORE_STATS.clear()
    _LAST_Q296_STORE_STATS.update(
        {
            "rows_written_per_append": list(store.rows_written_per_append),
            "rows_compacted": store.rows_compacted,
            "n_compactions": store.n_compactions,
            "n_batches": state["n_batches"],
            "final_shards": list(store.shards()),
        }
    )
    # the result is the manifest-honoring read-back of the fresh-doc
    # shards; materialize it before the store directory is cleaned up
    result = read_committed_shards(
        spark, out_dir, "doc_id long, batch_id long"
    ).localCheckpoint()
    store.cleanup()
    return result


@register(
    "q302_streaming_versioned_ingest",
    # the Delta streaming-sink transaction model on the manifest store:
    # every micro-batch commits ONE new table version (put-if-absent —
    # a re-delivered batch hits ManifestConflictError and skips
    # idempotently), each version = all batches so far, and the result
    # is the METADATA-ONLY time-travel audit: per-version row/char
    # totals read from manifest stats, no data scanned. Deterministic
    # batches (doc_id order, the q296 rank formula) make every version
    # boundary restatable in SQL as a cumulative join.
    oracle="""
    WITH bs AS (
        SELECT greatest(100, (count(*) + 4) // 5) AS b FROM documents
    ),
    pos AS (
        SELECT doc_id, n_chars,
               CAST((row_number() OVER (ORDER BY doc_id) - 1) // bs.b
                    AS BIGINT) AS batch_id
        FROM documents, bs
    )
    SELECT v.batch_id AS version,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_chars) AS BIGINT) AS total_chars
    FROM (SELECT DISTINCT batch_id FROM pos) v
    JOIN pos p ON p.batch_id <= v.batch_id
    GROUP BY v.batch_id
    """,
    survey_ref="§2B streaming sinks × warehouse versioning: one table "
               "version per micro-batch under optimistic concurrency "
               "(the Delta streaming-sink txn/idempotent-writes model) "
               "+ metadata-only time travel over manifest stats",
    doc="Streaming versioned ingest: the deterministic Python stream "
        "source replays the corpus (~5 micro-batches); foreachBatch "
        "lands each batch as a JSONL shard carrying (n_rows, "
        "total_chars) stats and commits manifest version <batch_id> = "
        "every shard so far through the put-if-absent protocol — a "
        "re-delivered batch raises ManifestConflictError and skips, "
        "which IS the exactly-once-for-manifest-readers guarantee "
        "Delta's txn-version sink makes. The returned audit reads ONLY "
        "manifest stats (O(#versions × #shards) driver metadata, zero "
        "data scan — the snapshot-history query a 100 TB store answers "
        "from its log), hash-matched against the cumulative batch "
        "restatement.",
)
def q302_streaming_versioned_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time as _time

    from sciencebeam_parser_spark.queries.events_ops import (
        _start_bounded_stream,
    )
    from sciencebeam_parser_spark.sinks.versioned_manifest import (
        ManifestConflictError,
        commit_version,
        read_head,
        read_version as manifest_read_version,
    )
    from sciencebeam_parser_spark.sources.pydatasource import (
        register_python_datasource,
    )

    register_python_datasource(spark)
    expected = table(spark, sf_dir, "documents").count()
    batch_size = max(100, (expected + 4) // 5)
    store = scratch_dir(spark, "q302_store", sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)

    state: dict = {"seen": 0}

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        n_in = batch_df.count()
        if n_in == 0:
            return
        shard_rel = f"gen-b{batch_id:04d}"
        out = batch_df.select("doc_id", "lang", "n_chars")
        out.coalesce(4).write.mode("overwrite").json(
            os.path.join(store, shard_rel)
        )
        stats = out.agg(
            F.count("*").alias("n"), F.sum("n_chars").alias("c")
        ).first()
        prev = read_head(store)
        entries = (
            list(manifest_read_version(store, prev))
            if prev is not None
            else []
        )
        entries.append(
            {
                "path": shard_rel,
                "n_rows": stats["n"],
                "total_chars": stats["c"],
            }
        )
        try:
            commit_version(store, batch_id, entries)
        except ManifestConflictError:
            # re-delivered batch: its version is already committed —
            # the idempotent skip IS the exactly-once guarantee
            pass
        state["seen"] += n_in

    stream = (
        spark.readStream.format("sbp_doc_stream")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("batchSize", str(batch_size))
        .load()
    )
    writer = (
        stream.writeStream.foreachBatch(sink_batch)
        .queryName(unique_name("q302_feb"))
        .trigger(processingTime="0 seconds")
    )
    q = _start_bounded_stream(spark, writer, timeout=1, expect_timeout=True)
    try:
        # completeness poll, not a data-path bound: scales with corpus
        # size so a bigger replay doesn't trip a fixed ceiling (q302
        # measured ~27k docs/s at 100x; 1k docs/s floor)
        deadline = _time.time() + max(240, expected // 1000)
        while _time.time() < deadline:
            if state["seen"] >= expected:
                break
            _time.sleep(0.3)
        else:  # pragma: no cover - timeout means missing batches
            raise TimeoutError(
                f"doc stream absorbed {state['seen']} of {expected} rows"
            )
    finally:
        q.stop()

    # metadata-only time-travel audit: manifest stats, zero data scan.
    # Enumerate COMMITTED versions rather than assuming 0..head is
    # contiguous — an empty non-final micro-batch returns before
    # commit_version and would leave a gap (ADVICE r7).
    committed = sorted(
        int(name[len("_MANIFEST-v"):-len(".json")])
        for name in os.listdir(store)
        if name.startswith("_MANIFEST-v") and name.endswith(".json")
    )
    rows = []
    for v in committed:
        entries = manifest_read_version(store, v)
        rows.append(
            (
                v,
                sum(e["n_rows"] for e in entries),
                sum(e["total_chars"] for e in entries),
            )
        )
    shutil.rmtree(store, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version long, n_docs long, total_chars long"
    )
