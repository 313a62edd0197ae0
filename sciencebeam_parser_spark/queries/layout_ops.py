"""Data-layout queries (SURVEY §2B scans; BASELINE scale posture): the
write-side layout decisions that make 100 TB reads cheap, exercised as
driver-surface queries.

* q149 — hive-style partitioned parquet write + partition-PRUNED read:
  the filter never touches non-matching partition directories (the
  `PartitionFilters` line in the scan, pinned in test_plan_quality.py).
  This is the corpus layout a training pipeline actually uses (partition
  by language/source shard; each run reads only its slice).
* q150 — foreachBatch streaming sink: the micro-batch escape hatch that
  lets a stream reuse ANY batch writer (upserts, multi-sink fanout).
* q151 — bucketed co-located join: both sides written bucketed on the
  join key, so the sort-merge join needs NO exchange (the pay-once
  layout for the engine's recurring big-big joins).

All verify against DuckDB oracles over the same source tables.
"""
from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import scratch_dir, unique_name


@register(
    "q149_partition_pruned_scan",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE lang IN ('en', 'de')
    """,
    survey_ref="§2B parquet scan + partition pruning (A22's page-pruning "
               "analog at the storage layer); 100 TB corpus layout",
    doc="Writes the corpus hive-partitioned by lang, then reads it back "
        "with a partition filter: the lang predicate prunes whole "
        "directories at planning time (PartitionFilters in the scan, "
        "never evaluated per row). At 100 TB this is the difference "
        "between scanning two language shards and scanning the corpus. "
        "The write itself exercises the partitioned sink (§2B sinks).",
)
def q149_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out_dir = scratch_dir(spark, "part", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    # partitionBy writes one directory per lang value; at corpus scale the
    # writer would also bucket by doc_id within each partition (bucketed.py)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    pruned = spark.read.parquet(out_dir).filter(F.col("lang").isin("en", "de"))
    return pruned.select("doc_id", "lang", "n_chars")


@register(
    "q150_streaming_foreach_batch",
    # single-file source + availableNow => exactly one micro-batch; the
    # foreachBatch writer projects/filters it like any batch DataFrame
    # and lands survivors through the batchId-keyed manifest sink, so
    # the manifest-honoring read-back equals the plain batch query.
    oracle="""
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events WHERE event_type = 'purchase' AND value > 50
    """,
    survey_ref="§2B foreachBatch sink (incremental TEI output analog, "
               "SURVEY streaming table)",
    doc="REAL streaming foreachBatch: readStream → writeStream."
        "foreachBatch(fn) under availableNow, where fn applies a batch "
        "filter/projection and lands rows executor-side through the "
        "q283 batchId-keyed shard + atomic-manifest commit protocol "
        "(a retried batch overwrites its own shard — exactly-once for "
        "manifest readers on top of at-least-once delivery); no result "
        "row crosses the driver on the data path. The returned "
        "DataFrame is the manifest-honoring read-back, hash-matched "
        "to the batch oracle.",
)
def q150_streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.queries.events_ops import (
        _events_stream,
        _start_bounded_stream,
        read_committed_shards,
        write_batch_shard,
    )

    out_dir = scratch_dir(spark, "q150_sink", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_shard(
            batch_df.filter(
                (F.col("event_type") == "purchase") & (F.col("value") > 50)
            ).select(
                "event_id", "user_id", F.round("value", 2).alias("value")
            ),
            out_dir,
            batch_id,
        )

    writer = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink_batch)
        .queryName(unique_name("q150_feb"))
        .trigger(availableNow=True)
    )
    _start_bounded_stream(spark, writer)
    return read_committed_shards(
        spark, out_dir, "event_id long, user_id long, value double"
    )


@register(
    "q151_bucketed_colocated_join",
    oracle="""
    SELECT d.doc_id, d.lang, e.label,
           round(list_sum([CAST(x AS DOUBLE) FOR x IN e.embedding]), 4)
               AS emb_sum
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    survey_ref="§2B big-big equi-join on a pre-bucketed layout (the 100 TB "
               "co-located-join strategy, BASELINE scale posture; A12/A14/"
               "A27's tokens ⋈ labels / entities ⋈ rewrites joins)",
    doc="Writes documents and embeddings bucketed on the shared key, then "
        "joins the bucketed tables: the catalog's bucket spec makes the "
        "sort-merge join ZERO-Exchange — pay the partitioning once at "
        "write time, reuse it in every downstream join/agg "
        "(tests/test_bucketing.py pins the no-Exchange plan). The oracle "
        "is the plain join: layout changes the plan, never the result.",
)
def q151_bucketed_colocated_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    # per-session tag (applicationId): concurrent sessions on the same
    # dataset must not race on the catalog table names
    app = spark.sparkContext.applicationId.replace("-", "_")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") + "_" + app
    base = scratch_dir(spark, "bucketed", sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("emb_sum"),
    )
    write_bucketed(
        docs, f"q151_docs_{tag}", os.path.join(base, "docs"),
        bucket_col="doc_id", n_buckets=8,
    )
    write_bucketed(
        emb, f"q151_emb_{tag}", os.path.join(base, "emb"),
        bucket_col="doc_id", n_buckets=8,
    )
    return read_bucketed(spark, f"q151_docs_{tag}").join(
        read_bucketed(spark, f"q151_emb_{tag}"), "doc_id"
    )


@register(
    "q157_asset_zip_sink",
    # rows-only: zip bytes are not SQL-expressible; determinism comes from
    # hash-partitioning on doc_id into a fixed partition count, so each
    # archive's membership is stable across runs.
    oracle=None,
    survey_ref="§2A A29 asset ZIP sink (app/parser.py:102-127 "
               "create_asset_zip_for_semantic_document; one archive per "
               "task instead of per request at corpus scale)",
    doc="The asset-ZIP sink end-to-end: a (doc_id, tei_xml) relation is "
        "hash-partitioned on doc_id into 8 fixed partitions and written "
        "as one zip archive per partition via foreachPartition (executor-"
        "side I/O, nothing through the driver); the query returns one row "
        "per archive with its entry count and an order-insensitive digest "
        "of the entry names. Contract: output_dir must be shared storage "
        "(object store/NFS) on a real cluster — executors write it and "
        "the driver lists it; local[] satisfies this trivially.",
)
def q157_asset_zip_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import zipfile

    from sciencebeam_parser_spark.sinks.jats import write_xml_zip

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("<TEI><text><body><p>"),
            F.substring("text", 1, 64),
            F.lit("</p></body></text></TEI>"),
        ).alias("tei_xml"),
    )
    out_dir = scratch_dir(spark, "zip", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    # fixed partition count => stable archive membership run to run
    write_xml_zip(docs.repartition(8, "doc_id"), out_dir)
    rows = []
    for name in sorted(os.listdir(out_dir)):
        with zipfile.ZipFile(os.path.join(out_dir, name)) as zf:
            names = sorted(zf.namelist())
            digest = hashlib.md5("\n".join(names).encode()).hexdigest()
            rows.append((name, len(names), digest))
    return spark.createDataFrame(
        rows, "zip_name string, n_entries long, entry_names_md5 string"
    )


@register(
    "q191_schema_evolution_scan",
    # two ingest generations with drifted schemas (gen 1: doc_id+n_chars;
    # gen 2: doc_id+lang+source) merged by schema-union read: absent
    # columns surface as NULL, exactly the UNION the oracle states.
    oracle="""
    SELECT doc_id, CAST(1 AS INT) AS gen,
           n_chars,
           CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS VARCHAR) AS source
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, CAST(2 AS INT) AS gen,
           CAST(NULL AS BIGINT) AS n_chars,
           lang, source
    FROM documents WHERE doc_id % 2 = 1
    """,
    survey_ref="§2B parquet scan, engine-general lake maintenance: "
               "schema evolution across ingest generations (mergeSchema "
               "read) — the drift every long-lived 100 TB corpus "
               "accumulates",
    doc="Schema-evolution scan: two parquet generations written with "
        "different column sets (an early ingest without lang/source, a "
        "later one without n_chars), read back in ONE scan with "
        "mergeSchema=true — the union schema materializes, absent "
        "columns are NULL, no rewrite of the old generation. At 100 TB "
        "this is how a corpus absorbs schema drift without a petabyte "
        "backfill; the per-file footers still prune columns that "
        "generation never had. Requires shared storage for the temp "
        "write (same contract as q149/q151/q174).",
)
def q191_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    out_dir = scratch_dir(spark, "evo", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "n_chars"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "gen=1"))
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "gen=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out_dir)
        .parquet(out_dir)
    )
    return merged.select(
        "doc_id",
        F.col("gen").cast("int").alias("gen"),
        "n_chars",
        "lang",
        "source",
    )


@register(
    "q227_dynamic_partition_pruning",
    # the dim (top-3 purchase days) is RUNTIME-derived — no static filter
    # can prune the fact scan at plan time; dynamic partition pruning
    # injects the dim's day set into the fact's partition filter at
    # execution (DynamicPruningExpression on the scan, pinned in
    # test_plan_quality.py)
    oracle="""
    WITH fact AS (
        SELECT CAST(ts AS DATE) AS day, event_type, value FROM events
    ),
    busiest AS (
        SELECT day FROM (
            SELECT day, count(*) AS n
            FROM fact WHERE event_type = 'purchase'
            GROUP BY day
        ) ORDER BY n DESC, day LIMIT 3
    )
    SELECT f.day, f.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM fact f JOIN busiest b ON b.day = f.day
    GROUP BY f.day, f.event_type
    """,
    survey_ref="§2B scans + §4 optimizer surface: DYNAMIC partition "
               "pruning — the runtime half of q149's static pruning; at "
               "100 TB the difference between scanning 3 day-partitions "
               "and scanning the year",
    doc="Day-partitioned fact table joined against a runtime-derived "
        "dimension (the 3 busiest purchase days): the dim is an "
        "aggregate, so no static predicate exists at plan time — "
        "dynamic partition pruning broadcasts the dim's day set and "
        "prunes fact partitions at execution, reusing the join's own "
        "broadcast exchange. The fact write exercises the partitioned "
        "sink; value sums are floor-cents int64 so the aggregate is "
        "engine-exact.",
)
def q227_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "event_type", "value"
    )
    out_dir = scratch_dir(spark, "dpp", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    ev.write.mode("overwrite").partitionBy("day").parquet(out_dir)
    fact = spark.read.parquet(out_dir)
    busiest = (
        fact.filter(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "day")
        .limit(3)
        .select("day")
    )
    return (
        fact.join(F.broadcast(busiest), "day")
        .groupBy("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )


@register(
    "q238_orc_roundtrip",
    # format breadth: the same relation written to ORC and read back must
    # survive byte-identically — the oracle computes the aggregate from
    # the original parquet, so any roundtrip corruption (type coercion,
    # timestamp unit drift, null handling) breaks the hash.
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY o_orderstatus
    """,
    survey_ref="§2B sources/sinks: ORC write + read roundtrip — the "
               "second columnar format a lakehouse ingest layer must "
               "speak beside parquet",
    doc="ORC roundtrip: orders projected to (status, price-cents, key) "
        "is written as ORC (native Spark writer, zlib default), read "
        "back, and aggregated — the result hash-matches the oracle "
        "computed over the ORIGINAL parquet, proving the roundtrip is "
        "lossless including the int64 floor-cents arithmetic. Columnar "
        "layout decisions (predicate pushdown, column pruning) apply to "
        "the ORC scan the same as parquet.",
)
def q238_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out_dir = scratch_dir(spark, "orc", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    orders.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@register(
    "q239_python_datasource",
    # the read path is a CUSTOM Python DataSource (Spark 4 API): driver
    # enumerates one InputPartition per shard file, executors parse JSONL
    # and recover the hive partition column — the oracle predicts the
    # result from the source table, so any loss in the custom reader
    # (dropped rows, wrong partition recovery, type drift) breaks the
    # hash.
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY lang
    """,
    survey_ref="§2B sources: custom Python DataSource "
               "(pyspark.sql.datasource) — the engine-extension read "
               "path for formats only Python can parse, with real "
               "driver-side split planning and executor-side reads",
    doc="Custom-source round trip: the corpus is exported as hive-"
        "partitioned JSONL shards (the q174 sink layout), then read "
        "back through a registered Python DataSource whose partitions() "
        "plans one split per shard file and whose read() parses lines "
        "and recovers the partition column from the directory name — "
        "Spark schedules the Python reads partition-parallel exactly "
        "like a native scan. This is how the engine would mount the "
        "reference's pdfalto-style one-file-at-a-time parsers as a "
        "first-class scan at corpus scale (sources/pdf.py kernels).",
)
def q239_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.sources.pydatasource import (
        register_python_datasource,
    )

    docs = table(spark, sf_dir, "documents")
    out_dir = scratch_dir(spark, "pyds", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    docs.select("doc_id", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).partitionBy("source").json(out_dir)
    register_python_datasource(spark)
    back = (
        spark.read.format("sbp_jsonl_shards")
        .option("path", out_dir)
        .load()
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


@register(
    "q253_observed_metrics",
    # the Observation API: ingest metrics (row count, value mass, gate
    # counts) ride ON the workload's own pass via df.observe — no second
    # scan — and surface to the driver after the action. The oracle
    # predicts the same metrics relationally.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(count(CASE WHEN value > 100 THEN 1 END) AS BIGINT)
               AS n_large,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS n_purchase
    FROM events
    """,
    survey_ref="§4 optimizer/observability surface: DataFrame.observe "
               "metrics — the zero-extra-pass ingest accounting the "
               "reference's per-model endpoints (§3.3 'every "
               "intermediate relation materializable') generalize to",
    doc="Observed metrics: df.observe attaches named aggregate metrics "
        "to the event scan, the workload (a max-timestamp action) "
        "executes ONCE, and the metrics are read from the Observation "
        "handle afterwards — accounting without a second pass, which "
        "at 100 TB is the difference between free telemetry and "
        "doubling the scan bill. (DISTINCT aggregates are rejected by "
        "CollectMetrics, so the fourth metric is a purchase gate "
        "count.) Returned as a 1-row relation the oracle predicts.",
)
def q253_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = table(spark, sf_dir, "events")
    obs = Observation("ingest_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "total_cents"
        ),
        F.count(F.when(F.col("value") > 100, 1)).alias("n_large"),
        # DISTINCT aggregates are rejected by CollectMetrics; gate counts
        # like this purchase tally are the supported shape
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchase"
        ),
    )
    # the real workload action — metrics piggyback this single pass
    observed.agg(F.max("ts")).collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["total_cents"]),
                int(m["n_large"]),
                int(m["n_purchase"]),
            )
        ],
        "n_rows long, total_cents long, n_large long, n_purchase long",
    )


@register(
    "q281_python_datasource_sink",
    # the WRITE half of the q239 engine-extension surface: documents go
    # OUT through a custom Python DataSourceWriter (per-task private
    # files + a driver-side commit manifest), come BACK through the
    # plain JVM json reader, and must aggregate to exactly what the
    # source table predicts — any dropped task output, double-written
    # retry, or type drift in the Python sink breaks the hash.
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    survey_ref="§2B sinks: custom Python DataSource WRITER "
               "(pyspark.sql.datasource DataSourceWriter/"
               "WriterCommitMessage) — task-private files + driver "
               "commit manifest, the FileCommitProtocol contract "
               "restated for Python-only sinks (reference app/parser.py "
               "asset emitters)",
    doc="Custom-sink round trip: documents write through the registered "
        "Python sink (each task streams to a private part-<uuid>.json "
        "and reports a WriterCommitMessage; the driver's commit() "
        "publishes _MANIFEST.json over the successful attempt set — "
        "retried tasks can never interleave into a shared file), then "
        "the shards are read back by the JVM json reader and "
        "aggregated per language. The oracle predicts the aggregate "
        "from the source table, so the hash proves the sink moved "
        "every row exactly once. At 100 TB the sink is "
        "partition-parallel with zero driver data movement — only the "
        "O(#tasks) commit messages cross to the driver.",
)
def q281_python_datasource_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.sources.pydatasource import (
        register_python_datasource,
    )

    docs = table(spark, sf_dir, "documents")
    out_dir = scratch_dir(spark, "pysink", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    register_python_datasource(spark)
    (
        docs.select("doc_id", "lang", "n_chars")
        .write.format("sbp_jsonl_sink")
        .option("path", out_dir)
        .mode("append")
        .save()
    )
    # the read-back honors the commit protocol: only manifest-listed
    # shards count (a crashed attempt's orphan part-file must be
    # invisible even before abort() cleans it)
    import json as _json

    with open(
        os.path.join(out_dir, "_MANIFEST.json"), encoding="utf-8"
    ) as fh:
        shards = [
            os.path.join(out_dir, s["path"])
            for s in _json.load(fh)["shards"]
        ]
    back = spark.read.schema(
        "doc_id bigint, lang string, n_chars bigint"
    ).json(shards)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "q282_python_stream_source",
    # the STREAM third of the Python DataSource surface (read q239 /
    # write q281): a custom simple stream reader replays the corpus in
    # offset-tracked micro-batches; the complete-mode aggregate after
    # the final batch must equal the batch GROUP BY.
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    survey_ref="§2B streaming sources: custom Python streaming "
               "DataSource (SimpleDataSourceStreamReader) — offset "
               "dict checkpointing + readBetweenOffsets replay, the "
               "Spark-native restatement of the reference's "
               "request-polling ingest (app/parser.py)",
    doc="Python streaming source end-to-end: sbp_doc_stream yields the "
        "corpus in deterministic doc_id order over ~5 scale-adaptive "
        "micro-batches, offsets as JSON row positions the engine "
        "checkpoints (exactly-once lives in the offset log, not the "
        "source); a complete-mode per-language aggregate runs over it "
        "into a memory sink, the driver polls until every source row "
        "is absorbed, and the final snapshot hash-matches the batch "
        "GROUP BY. The simple-reader protocol trades driver-side "
        "reads for zero partition planning — right for control-plane "
        "rates; the full streamReader (executor-side partitions per "
        "offset range) is the data-plane variant, same contract.",
)
def q282_python_stream_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time

    from sciencebeam_parser_spark.queries.events_ops import (
        _start_bounded_stream,
    )
    from sciencebeam_parser_spark.sources.pydatasource import (
        register_python_datasource,
    )

    register_python_datasource(spark)
    expected = table(spark, sf_dir, "documents").count()
    name = (
        "q282_sink_"
        + spark.sparkContext.applicationId.replace("-", "_")
    )
    # scale-adaptive paging (same ~5-increment formula as q296): each
    # micro-batch costs a full plan+schedule+state-commit round, so a
    # batch count FIXED by corpus size (not a constant row count tuned
    # for one sf) keeps replay cost O(1) rounds at any scale while
    # still exercising multi-batch offset checkpointing everywhere
    batch_size = max(200, (expected + 4) // 5)
    stream = (
        spark.readStream.format("sbp_doc_stream")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("batchSize", str(batch_size))
        .load()
    )
    agg = stream.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    writer = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
    )
    q = _start_bounded_stream(spark, writer, timeout=1, expect_timeout=True)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = (
                spark.table(name)
                .agg(F.sum("n_docs").alias("n"))
                .collect()[0]["n"]
            )
            if got == expected:
                break
            time.sleep(0.3)
        else:  # pragma: no cover - timeout means missing rows
            raise TimeoutError(
                f"python stream absorbed {got} of {expected} rows"
            )
    finally:
        q.stop()
    return spark.table(name)


@register(
    "q283_python_stream_sink",
    # the STREAMING-WRITE quarter completes the Python DataSource
    # matrix: the custom stream source feeds a quality gate whose
    # survivors land in the custom streaming sink (per-batch shards +
    # per-batch manifests); the manifest-honoring read-back must equal
    # the batch restatement of the gate.
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE n_chars >= 300
    GROUP BY lang
    """,
    survey_ref="§2B streaming sinks: custom Python streaming "
               "DataSourceStreamWriter — per-batch task shards + "
               "batchId-keyed commit manifests, the exactly-once-for-"
               "manifest-readers contract (reference app/parser.py "
               "emitters, streaming form)",
    doc="Python streaming sink end-to-end: the sbp_doc_stream source "
        "pages the corpus, an n_chars quality gate filters in-stream, "
        "and survivors write through sbp_jsonl_stream_sink — each "
        "micro-batch's tasks write private shard files and the "
        "driver's commit(messages, batchId) publishes a "
        "_batch-<id>.json manifest; a retried batch republishes the "
        "same batchId (last write wins) so manifest-honoring readers "
        "get exactly-once on top of the engine's at-least-once. The "
        "read-back unions ONLY manifest-listed shards and must "
        "hash-match the batch restatement of the gate.",
)
def q283_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import time

    from sciencebeam_parser_spark.queries.events_ops import (
        _start_bounded_stream,
    )
    from sciencebeam_parser_spark.sources.pydatasource import (
        register_python_datasource,
    )

    register_python_datasource(spark)
    docs = table(spark, sf_dir, "documents")
    out_dir = scratch_dir(spark, "pystreamsink", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    # corpus size and gate-survivor count in ONE fused aggregate job
    # (guide §5: each driver action is a sequential round trip)
    sizes = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("n_chars") >= 300, 1)).alias("n_gate"),
    ).collect()[0]
    expected = sizes["n_gate"]
    # same scale-adaptive ~5-increment paging as q282/q296: micro-batch
    # count, not row count, is the fixed cost unit of the replay
    batch_size = max(500, (sizes["n_docs"] + 4) // 5)
    stream = (
        spark.readStream.format("sbp_doc_stream")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("batchSize", str(batch_size))
        .load()
        .filter(F.col("n_chars") >= 300)
    )
    writer = (
        stream.writeStream.format("sbp_jsonl_stream_sink")
        .option("path", out_dir)
        .option(
            "checkpointLocation", os.path.join(out_dir, "_checkpoint")
        )
        .outputMode("append")
        .trigger(processingTime="0 seconds")
    )
    # this writer's checkpoint stays with its data dir (explicit option
    # above) — the managed tmpfs checkpoint must not override it

    def _committed_rows() -> int:
        n = 0
        for man in glob.glob(os.path.join(out_dir, "_batch-*.json")):
            try:
                with open(man, encoding="utf-8") as fh:
                    shards = json.load(fh)["shards"]
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # manifest mid-replace; next poll sees it
            for shard in shards:
                with open(
                    os.path.join(out_dir, shard), encoding="utf-8"
                ) as sf:
                    n += sum(1 for _ in sf)
        return n

    q = _start_bounded_stream(spark, writer, timeout=1, expect_timeout=True,
                              managed_checkpoint=False)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if _committed_rows() == expected:
                break
            time.sleep(0.3)
        else:  # pragma: no cover
            raise TimeoutError(
                f"stream sink committed {_committed_rows()} of {expected}"
            )
    finally:
        q.stop()

    committed = sorted(
        {
            os.path.join(out_dir, shard)
            for man in glob.glob(os.path.join(out_dir, "_batch-*.json"))
            for shard in json.load(open(man, encoding="utf-8"))["shards"]
        }
    )
    back = spark.read.schema(
        "doc_id bigint, lang string, n_chars bigint"
    ).json(committed)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
