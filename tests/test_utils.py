"""utils.map_documents: the per-document Python pass."""
from pyspark.sql import types as T

from sciencebeam_parser_spark.utils import map_documents

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
