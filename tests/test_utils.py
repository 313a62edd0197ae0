"""utils.map_documents and utils.checkpoint_big: the per-document Python
pass and the co-located checkpoint it reads in place."""
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sciencebeam_parser_spark.utils import (
    checkpoint_big,
    map_documents,
    repartition_for_python,
)

OUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("key_is_none", T.BooleanType()),
        T.StructField("seqs", T.StringType()),
    ]
)


def test_map_documents_null_key_and_empty_partitions(spark):
    def describe(key, doc):
        return [(key, key is None, ",".join(str(s) for s in doc["seq"]))]

    docs = spark.createDataFrame(
        [("a", 2), (None, 1), ("a", 0), (None, 0), ("a", 1)],
        "doc_id string, seq long",
    )
    out = map_documents(docs, "doc_id", describe, OUT, order_by="seq")
    # two documents over defaultParallelism (4) partitions: some are empty
    assert out.rdd.getNumPartitions() > 2
    assert sorted(out.collect(), key=lambda r: r["doc_id"] or "") == [
        (None, True, "0,1"),
        ("a", False, "0,1,2"),
    ]

    # a list of keys hands fn a tuple, None for each null part
    pairs = map_documents(
        docs.withColumn("part", docs["seq"] % 2),
        ["doc_id", "part"],
        lambda key, doc: [(key[0], key[0] is None, str(len(doc)))],
        OUT,
    )
    assert sorted(pairs.collect(), key=lambda r: (r["doc_id"] or "", r["seqs"])) == [
        (None, True, "1"),
        (None, True, "1"),
        ("a", False, "1"),
        ("a", False, "2"),
    ]

    # an empty input runs nothing and raises nothing
    assert map_documents(docs.limit(0), "doc_id", describe, OUT).collect() == []


def test_checkpoint_big_keeps_its_partitioning(spark):
    """A checkpoint on doc_id is known to be hash-partitioned on it, so a
    per-document pass over it reads it in place, and the AQE setting the
    checkpoint's action runs without reads as before afterwards."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    docs = spark.createDataFrame(
        [("a", 2), ("b", 1), ("a", 0), ("c", 0), ("a", 1)],
        "doc_id string, seq long",
    )
    ck = checkpoint_big(docs, "doc_id")
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe

    def describe(key, doc):
        return [(key, key is None, ",".join(str(s) for s in doc["seq"]))]

    out = map_documents(ck, "doc_id", describe, OUT, order_by="seq")
    for df in (repartition_for_python(ck, "doc_id"), out):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    assert sorted(out.collect()) == [
        ("a", False, "0,1,2"), ("b", False, "1"), ("c", False, "0"),
    ]


def test_key_less_checkpoint_big_keeps_aqe_coalescing(spark):
    """Without `cols` there is no layout to keep, so AQE still coalesces
    the shuffle of an aggregate upstream (4 partitions without it)."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    docs = spark.createDataFrame(
        [("a", 2), ("b", 1), ("a", 0), ("c", 0), ("a", 1)],
        "doc_id string, seq long",
    )
    ck = checkpoint_big(docs.groupBy("doc_id").count())
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert ck.rdd.getNumPartitions() == 1
    assert sorted(ck.collect()) == [("a", 3), ("b", 1), ("c", 1)]


def test_checkpoint_big_starts_no_job(spark, job_group):
    """The call only plans the checkpoint: a keyed one over a shuffling
    plan and a key-less one over a shuffle-free plan start no job; the
    first read computes and stores them."""
    docs = spark.createDataFrame(
        [("a", 2), ("b", 1), ("a", 0), ("c", 0), ("a", 1)],
        "doc_id string, seq long",
    )
    with job_group() as jobs:
        keyed = checkpoint_big(docs.groupBy("doc_id").count(), "doc_id")
        assert jobs() == 0
    with job_group() as jobs:
        key_less = checkpoint_big(docs.withColumn("seq", F.col("seq") + 1))
        assert jobs() == 0
    assert sorted(keyed.collect()) == [("a", 3), ("b", 1), ("c", 1)]
    assert sorted(key_less.collect()) == [
        ("a", 1), ("a", 2), ("a", 3), ("b", 2), ("c", 1),
    ]


def test_checkpoint_big_values_are_fixed_by_the_first_read(spark):
    """A nondeterministic column reads the same in every consumer, whether
    the first read covers some partitions or all of them."""
    ck = checkpoint_big(
        spark.range(40).select(
            "id",
            (F.col("id") % 5).cast("string").alias("doc_id"),
            F.expr("uuid()").alias("u"),
        ),
        "doc_id",
    )
    first = ck.filter(F.col("id") == 7).limit(1).collect()
    rows, again = ck.collect(), ck.collect()
    by_id = {r["id"]: r["u"] for r in rows}
    assert len(set(by_id.values())) == 40
    assert first[0]["u"] == by_id[7]
    assert {r["id"]: r["u"] for r in again} == by_id
    per_doc = ck.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("u")).alias("us")
    ).collect()
    assert {r["doc_id"]: list(r["us"]) for r in per_doc} == {
        doc: sorted(u for i, u in by_id.items() if str(i % 5) == doc)
        for doc in map(str, range(5))
    }


def test_checkpoint_big_restores_aqe_when_its_action_raises(spark, monkeypatch):
    """The call plans with AQE off and restores the setting, also when
    planning raises; the stored relation's error surfaces at its first
    read, and AQE reads as before that read too."""
    @F.udf("long")
    def boom(seq):
        raise ValueError("boom")

    def no_plan(self, *args, **kwargs):
        raise RuntimeError("no plan")

    docs = spark.createDataFrame([("a", 1)], "doc_id string, seq long")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for value in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", value)
            ck = checkpoint_big(docs.withColumn("seq", boom("seq")), "doc_id")
            assert spark.conf.get("spark.sql.adaptive.enabled") == value
            with pytest.raises(Exception, match="boom"):
                ck.collect()
            assert spark.conf.get("spark.sql.adaptive.enabled") == value
            with monkeypatch.context() as patch:
                patch.setattr(type(docs), "localCheckpoint", no_plan)
                with pytest.raises(RuntimeError, match="no plan"):
                    checkpoint_big(docs, "doc_id")
            assert spark.conf.get("spark.sql.adaptive.enabled") == value
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
