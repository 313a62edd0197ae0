"""Semantic tests for the Spark 4 engine-surface operators (spark4_ops):
recursive CTE reachability (q269), SQL scripting (q270), LATERAL top-k
(q271), the Arrow-native UDF (q272), and the transformWithState wrapper
(sandbox-gated on google.protobuf).

Each checks the engine construct against an independent pure-Python
model, complementing the DuckDB oracles."""
from __future__ import annotations

import math

import pytest

from sciencebeam_parser_spark.queries import REGISTRY
from sciencebeam_parser_spark.queries.registry import table
from sciencebeam_parser_spark.session import scratch_dir
from sciencebeam_parser_spark.queries.spark4_ops import (
    _MAX_DEPTH,
    _NEWTON_ROUNDS,
    _SEED_MOD,
    _STRIDE,
)

SF_DIR = "/root/testdata/sf0.001"


class TestRecursiveCte:
    def test_matches_python_bfs_with_path_counts(self, spark):
        rows = (
            REGISTRY["q269_recursive_cte_reachability"]
            .build(spark, SF_DIR)
            .collect()
        )
        n_docs = table(spark, SF_DIR, "documents").count()
        edges: dict[int, list[int]] = {}
        for src in range(n_docs):
            outs = [
                (src + k * _STRIDE) % n_docs
                for k in (1, 2, 3)
                if (src + k * _STRIDE) % n_docs != src
            ]
            edges[src] = outs
        # path-multiplicity BFS: frontier keeps duplicates (UNION ALL)
        depth_of: dict[int, int] = {}
        paths: dict[int, int] = {}
        frontier = [v for v in range(n_docs) if v % _SEED_MOD == 0]
        for v in frontier:
            depth_of[v] = 0
            paths[v] = paths.get(v, 0) + 1
        for d in range(1, _MAX_DEPTH + 1):
            nxt = []
            for v in frontier:
                nxt.extend(edges[v])
            for v in nxt:
                depth_of.setdefault(v, d)
                paths[v] = paths.get(v, 0) + 1
            frontier = nxt
        got = {r.v: (r.depth, r.n_paths) for r in rows}
        assert got == {v: (depth_of[v], paths[v]) for v in paths}

    def test_depth_bounded(self, spark):
        rows = (
            REGISTRY["q269_recursive_cte_reachability"]
            .build(spark, SF_DIR)
            .collect()
        )
        assert rows and max(r.depth for r in rows) <= _MAX_DEPTH


class TestSqlScripting:
    def test_loop_matches_python_newton(self, spark):
        row = (
            REGISTRY["q270_sql_scripting_newton"]
            .build(spark, SF_DIR)
            .collect()
        )[0]
        s = (
            table(spark, SF_DIR, "documents")
            .groupBy()
            .sum("n_chars")
            .collect()[0][0]
        )
        x = s
        for _ in range(_NEWTON_ROUNDS):
            x = (x + s // x) // 2
        assert row.total_chars == s
        assert row[f"newton{_NEWTON_ROUNDS}"] == x
        # the recurrence is genuinely descending toward isqrt
        assert x >= int(math.isqrt(s))


class TestLateralTopK:
    def test_matches_window_topk(self, spark):
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        got = {
            (r.nation, r.c_custkey, r.bal_cents)
            for r in REGISTRY["q271_lateral_topk_per_group"]
            .build(spark, SF_DIR)
            .collect()
        }
        c = table(spark, SF_DIR, "customer")
        n = table(spark, SF_DIR, "nation")
        w = W.partitionBy("c_nationkey").orderBy(
            F.col("c_acctbal").desc(), F.col("c_custkey")
        )
        want = {
            (r.n_name, r.c_custkey, r.bal_cents)
            for r in c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .join(n, c.c_nationkey == n.n_nationkey)
            .select(
                "n_name",
                "c_custkey",
                F.floor(F.col("c_acctbal") * 100)
                .cast("long")
                .alias("bal_cents"),
            )
            .collect()
        }
        assert got == want
        # every nation with >=3 customers contributes exactly 3 rows
        assert len(got) == len(want)


class TestArrowUdf:
    def test_matches_python_kernel(self, spark):
        rows = (
            REGISTRY["q272_arrow_udf_signature"]
            .build(spark, SF_DIR)
            .filter("doc_id < 20")
            .collect()
        )
        texts = {
            r.doc_id: r.text
            for r in table(spark, SF_DIR, "documents")
            .filter("doc_id < 20")
            .collect()
        }
        assert len(rows) == 20
        for r in rows:
            t = texts[r.doc_id]
            assert r.arrow_sig == 31 * len(t) + 7 * t.count("e")


class TestTransformWithState:
    def test_wrapper_builds_unresolved_plan(self, spark):
        """Plan construction needs no protobuf/RocksDB — only execution
        does; the wrapper must at least produce the right schema."""
        from sciencebeam_parser_spark.queries.events_ops import _events_stream
        from sciencebeam_parser_spark.streaming.stateful import (
            running_totals_transform_with_state,
        )

        out = running_totals_transform_with_state(
            _events_stream(spark, SF_DIR)
        )
        assert [f.name for f in out.schema.fields] == [
            "key",
            "n_events",
            "total_value",
        ]

    def test_running_totals_end_to_end(self, spark):
        """REAL transformWithState run — requires google.protobuf (the
        state-server wire protocol), absent in this sandbox; the test is
        the executable spec for environments that have it."""
        pytest.importorskip("google.protobuf")
        from pyspark.sql import functions as F

        from sciencebeam_parser_spark.queries.events_ops import (
            _events_stream,
            _finish_memory_sink,
            _start_bounded_stream,
        )
        from sciencebeam_parser_spark.streaming.stateful import (
            ROCKSDB_PROVIDER,
            running_totals_transform_with_state,
        )

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, ROCKSDB_PROVIDER)
        try:
            out = running_totals_transform_with_state(
                _events_stream(spark, SF_DIR)
            )
            writer = (
                out.writeStream.format("memory")
                .queryName("tws_test")
                .outputMode("update")
                .trigger(availableNow=True)
            )
            _start_bounded_stream(spark, writer, stop_on_timeout=True)
            got = {
                r.key: (r.n_events, round(r.total_value, 2))
                for r in _finish_memory_sink(spark, "tws_test").collect()
            }
        finally:
            if prev is not None:
                spark.conf.set(key, prev)
            else:
                spark.conf.unset(key)
        want = {
            r.key: (r.n, round(r.s, 2))
            for r in table(spark, SF_DIR, "events")
            .groupBy(F.col("user_id").cast("string").alias("key"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == want


class TestSqlUdf:
    def test_matches_python_kernel(self, spark):
        rows = REGISTRY["q273_sql_udf"].build(spark, SF_DIR).collect()
        docs = {
            r.doc_id: r
            for r in table(spark, SF_DIR, "documents").collect()
        }
        assert rows
        for r in rows:
            d = docs[r.doc_id]
            assert d.n_chars >= 300
            n_tok = 1 + len(d.text) - len(d.text.replace(" ", ""))
            assert r.chars_per_token_bp == (10000 * d.n_chars) // n_tok
        # every qualifying doc is present (table function filters, only)
        assert len(rows) == sum(1 for d in docs.values() if d.n_chars >= 300)


class TestPipeSyntax:
    def test_matches_dataframe_form(self, spark):
        from pyspark.sql import functions as F

        got = {
            (r.l_returnflag, r.l_linestatus): (
                r.count_order, r.sum_qty, r.sum_disc_price
            )
            for r in REGISTRY["q274_pipe_syntax"].build(spark, SF_DIR).collect()
        }
        li = table(spark, SF_DIR, "lineitem")
        want = {
            (r.l_returnflag, r.l_linestatus): (
                r.count_order, r.sum_qty, r.sum_disc_price
            )
            for r in li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("count_order"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("sum_disc_price"),
            )
            .filter(F.col("count_order") > 10)
            .collect()
        }
        assert got == want and got


class TestCollatedGroup:
    def test_matches_lower_normalization(self, spark):
        from pyspark.sql import functions as F

        got = {
            r.lang_ci: (r.n_docs, r.n_case_variants)
            for r in REGISTRY["q275_collated_group"].build(spark, SF_DIR).collect()
        }
        docs = table(spark, SF_DIR, "documents").select(
            F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
            .otherwise(F.col("lang"))
            .alias("k")
        )
        want = {
            r.k: (r.n, r.v)
            for r in docs.groupBy(F.lower("k").alias("k"))
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("k").alias("v"),
            )
            .collect()
        }
        assert got == want and got
        # the case-mangling genuinely produced >1 binary variant per key
        assert any(v > 1 for _, v in got.values())


class TestStateStoreReader:
    def test_state_equals_batch_aggregate(self, spark):
        from pyspark.sql import functions as F

        got = {
            r.event_type: r.n_events
            for r in REGISTRY["q276_streaming_state_reader"]
            .build(spark, SF_DIR)
            .collect()
        }
        want = {
            r.event_type: r.n
            for r in table(spark, SF_DIR, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want and got


class TestNativeXmlSource:
    def test_roundtrip_matches_trimmed_source(self, spark):
        from pyspark.sql import functions as F

        got = {
            r.lang: (r.n_docs, r.total_chars)
            for r in REGISTRY["q277_native_xml_source"]
            .build(spark, SF_DIR)
            .collect()
        }
        want = {
            r.lang: (r.n, r.c)
            for r in table(spark, SF_DIR, "documents")
            .filter(F.col("doc_id") < 60)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.length(F.trim(F.col("text")))).alias("c"),
            )
            .collect()
        }
        assert got == want and got


class TestParameterizedIdentifier:
    def test_binding_matches_literal_query(self, spark):
        from pyspark.sql import functions as F

        got = {
            r.lang: (r.n_docs, r.total_chars)
            for r in REGISTRY["q279_parameterized_identifier"]
            .build(spark, SF_DIR)
            .collect()
        }
        want = {
            r.lang: (r.n, r.c)
            for r in table(spark, SF_DIR, "documents")
            .filter(F.col("source") == "src7")
            .groupBy("lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("c"))
            .collect()
        }
        assert got == want and got

    def test_hostile_value_stays_a_value(self, spark):
        """A quote-laden parameter binds as DATA (matches nothing),
        never mutating the statement — the injection-safety claim."""
        spark.sql("SELECT 1").collect()
        from sciencebeam_parser_spark.queries.registry import table as _t

        _t(spark, SF_DIR, "documents").createOrReplaceTempView("q279_docs")
        rows = spark.sql(
            "SELECT count(*) AS n FROM IDENTIFIER(:tbl) WHERE source = :src",
            args={"tbl": "q279_docs", "src": "src7' OR '1'='1"},
        ).collect()
        assert rows[0].n == 0


class TestPythonDataSourceSink:
    def test_manifest_covers_exactly_the_shards(self, spark):
        import json
        import glob
        import os

        from pyspark.sql import functions as F

        out = REGISTRY["q281_python_datasource_sink"].build(spark, SF_DIR)
        total = out.agg(F.sum("n_docs")).collect()[0][0]
        n_src = table(spark, SF_DIR, "documents").count()
        assert total == n_src
        sink_dir = scratch_dir(spark, "pysink", SF_DIR)
        manifest = json.load(
            open(os.path.join(sink_dir, "_MANIFEST.json"))
        )
        # every manifest-listed shard exists; the read path must honor
        # the manifest rather than a directory glob, so orphans from
        # failed attempts (none in this clean run) would be invisible
        for sh in manifest["shards"]:
            assert os.path.exists(os.path.join(sink_dir, sh["path"]))
        assert glob.glob(os.path.join(sink_dir, "part-*.json"))
        assert manifest["n_rows"] == n_src
        # line counts per shard match the commit messages
        for s in manifest["shards"]:
            with open(os.path.join(sink_dir, s["path"])) as fh:
                assert sum(1 for _ in fh) == s["n_rows"]


class TestPythonStreamSource:
    def test_complete_snapshot_matches_batch(self, spark):
        from pyspark.sql import functions as F

        got = {
            r.lang: (r.n_docs, r.total_chars)
            for r in REGISTRY["q282_python_stream_source"]
            .build(spark, SF_DIR)
            .collect()
        }
        want = {
            r.lang: (r.n, r.c)
            for r in table(spark, SF_DIR, "documents")
            .groupBy("lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("c"))
            .collect()
        }
        assert got == want and got

    def test_source_paginates_deterministically(self, spark):
        """The reader must page the corpus in doc_id order with stable
        offsets: reading [0,N) in two pages equals one page, and
        readBetweenOffsets replays exactly the first page."""
        from sciencebeam_parser_spark.sources.pydatasource import (
            DocCorpusStreamReader,
        )

        path = f"{SF_DIR}/documents.parquet"
        r = DocCorpusStreamReader({"path": path, "batchSize": "100"})
        page1, off1 = r.read(r.initialOffset())
        page1 = list(page1)
        page2, off2 = r.read(off1)
        page2 = list(page2)
        assert off1 == {"pos": 100} and off2 == {"pos": 200}
        big = DocCorpusStreamReader({"path": path, "batchSize": "200"})
        whole, _ = big.read(big.initialOffset())
        assert page1 + page2 == list(whole)
        assert list(r.readBetweenOffsets({"pos": 0}, {"pos": 100})) == page1


class TestPythonStreamSink:
    def test_gate_and_manifests_round_trip(self, spark):
        import glob
        import json
        import os

        from pyspark.sql import functions as F

        got = {
            r.lang: (r.n_docs, r.total_chars)
            for r in REGISTRY["q283_python_stream_sink"]
            .build(spark, SF_DIR)
            .collect()
        }
        want = {
            r.lang: (r.n, r.c)
            for r in table(spark, SF_DIR, "documents")
            .filter(F.col("n_chars") >= 300)
            .groupBy("lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("c"))
            .collect()
        }
        assert got == want and got
        out_dir = scratch_dir(spark, "pystreamsink", SF_DIR)
        manifests = glob.glob(os.path.join(out_dir, "_batch-*.json"))
        assert manifests, "no batch manifests published"
        listed = {
            s
            for m in manifests
            for s in json.load(open(m, encoding="utf-8"))["shards"]
        }
        assert listed  # every manifest shard exists on disk
        for s in listed:
            assert os.path.exists(os.path.join(out_dir, s))


class TestNativeSketches:
    def test_approx_topk_exact_regime(self, spark):
        from pyspark.sql import functions as F

        got = {
            r.event_type: r.n
            for r in REGISTRY["q284_approx_top_k"].build(spark, SF_DIR).collect()
        }
        want = {
            r.event_type: r.n
            for r in table(spark, SF_DIR, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want and got

    def test_hll_merge_equals_direct_weekly_sketch(self, spark):
        """Merging daily sketches must estimate the same as sketching
        the week directly — the mergeability contract itself."""
        from pyspark.sql import functions as F
        from sciencebeam_parser_spark.queries.registry import table as _t

        ev = _t(spark, SF_DIR, "events")
        direct = {
            r.week_start: r.n_types
            for r in ev.groupBy(
                F.to_date(F.date_trunc("week", F.col("ts"))).alias(
                    "week_start"
                )
            )
            .agg(
                F.expr("hll_sketch_estimate(hll_sketch_agg(event_type))")
                .cast("long")
                .alias("n_types")
            )
            .collect()
        }
        rolled = {
            r.week_start: r.n_types
            for r in REGISTRY["q285_hll_sketch_rollup"]
            .build(spark, SF_DIR)
            .collect()
        }
        assert rolled == direct and rolled
