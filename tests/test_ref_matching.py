"""Citation matching tests — ports of tests/processors/ref_matching_test.py."""
import pytest
from pyspark.sql import functions as F

from sciencebeam_parser_spark.operators.ref_matching import (
    _py_normalized_key,
    _py_normalized_key_tokens,
    _py_token_prefix_key,
    match_content_ids,
    normalized_key,
    normalized_key_tokens,
    token_prefix_key,
)


def expr_on(spark, text, expr):
    return (
        spark.createDataFrame([(text,)], "text string")
        .select(expr.alias("out"))
        .collect()[0]["out"]
    )


def run_match(spark, targets, citation_text):
    cit = spark.createDataFrame(
        [("d1", "c1", citation_text)], "doc_id string, citation_id string, text string"
    )
    tgt = spark.createDataFrame(
        [("d1", cid, text, i) for i, (cid, text) in enumerate(targets)],
        "doc_id string, content_id string, text string, target_seq long",
    )
    rows = match_content_ids(cit, tgt).collect()
    assert len(rows) == 1
    return rows[0]["target_content_id"]


class TestNormalizedKey:
    def test_lower_and_strip(self, spark):
        # ref_matching_test.py TestGetNormalizedKeyText
        assert expr_on(spark, "TeXt", normalized_key(F.col("text"))) == "text"
        assert expr_on(spark, "text.,;:", normalized_key(F.col("text"))) == "text"
        assert expr_on(spark, "text\n\r\t ", normalized_key(F.col("text"))) == "text"
        assert expr_on(spark, "text 123", normalized_key(F.col("text"))) == "text123"


class TestTokenPrefixKey:
    def test_prefixes(self, spark):
        # TestGetTokenPrefixNormalizedKeyText
        assert expr_on(spark, "figure 1", token_prefix_key(F.col("text"))) == "f1"
        assert (
            expr_on(spark, "figure 1", token_prefix_key(F.col("text"), 3)) == "fig1"
        )
        assert expr_on(spark, "figure 123", token_prefix_key(F.col("text"))) == "f123"
        assert (
            expr_on(spark, "figure x123a", token_prefix_key(F.col("text"))) == "fx123a"
        )


class TestMatchContentIds:
    def test_exact_match(self, spark):
        assert run_match(spark, [("id1", "Text 1"), ("id2", "Other 1")], "Text 1") == "id1"

    def test_case_insensitive(self, spark):
        assert run_match(spark, [("id1", "TeXt 1"), ("id2", "Other 1")], "tExt 1") == "id1"

    def test_ignores_punctuation(self, spark):
        assert run_match(spark, [("id1", "Text 1."), ("id2", "Other 1")], "Text 1:") == "id1"

    def test_prefix_match(self, spark):
        # 'Fig 1' → 'Figure 1' via token-prefix stage
        assert run_match(spark, [("id1", "Figure 1"), ("id2", "Other 1")], "Fig 1") == "id1"

    def test_partial_match_plurality(self, spark):
        # PartialContentIdMatcher: 'Smith 1999' votes id1 (2) over id2 (1)
        assert (
            run_match(
                spark,
                [("id1", "The title, Smith, 1999"), ("id2", "Other title, 1999")],
                "Smith 1999",
            )
            == "id1"
        )

    def test_tie_returns_null(self, spark):
        assert (
            run_match(
                spark,
                [("id1", "The title, Smith, 1999"), ("id2", "Other title, Smith, 1999")],
                "Smith 1999",
            )
            is None
        )

    def test_runner_up_tie_below_winner_still_matches(self, spark):
        # the tie check compares rank-1 vs rank-2 only (lead over the
        # desc-votes order): a tie BETWEEN the runners-up (votes 3,2,2)
        # must not block the clear winner
        assert (
            run_match(
                spark,
                [
                    ("id1", "The title, Smith, Jones, 1999"),
                    ("id2", "Other A, Smith, 1999"),
                    ("id3", "Other B, Smith, 1999"),
                ],
                "Smith Jones 1999",
            )
            == "id1"
        )

    def test_no_match_returns_null(self, spark):
        assert (
            run_match(
                spark,
                [("id1", "The title, Smooth"), ("id2", "Other title, X")],
                "Smith",
            )
            is None
        )

    def test_last_target_wins_on_key_collision(self, spark):
        # dict-build semantics: later target overwrites earlier
        assert (
            run_match(spark, [("id1", "Text 1"), ("id2", "Text 1")], "Text 1") == "id2"
        )

    def test_unmatched_citation_kept_with_null(self, spark):
        cit = spark.createDataFrame(
            [("d1", "c1", "nomatch zz"), ("d1", "c2", "Known")],
            "doc_id string, citation_id string, text string",
        )
        tgt = spark.createDataFrame(
            [("d1", "t1", "Known", 0)],
            "doc_id string, content_id string, text string, target_seq long",
        )
        out = {r["citation_id"]: r["target_content_id"] for r in match_content_ids(cit, tgt).collect()}
        assert out == {"c1": None, "c2": "t1"}


# Strings where Python's Unicode regex classes, str.strip() or str.lower()
# could part from Java's: NBSP, a tab-only token, \x0b, the \x1c-\x1f
# separators, NEL, LINE SEPARATOR, a non-ASCII digit, and case mappings
# that change length.
ADVERSARIAL = [
    "Fig\u00a01",
    "Smith \t 1999",
    "a\tb",
    "a\x0bb 2",
    "a\x1cb",
    "Fig\x1c2 x",
    "a\x85b 3",
    "a\u2028b c",
    "Fig \u0663",
    "Fig\u0663",
    "\u0130stanbul 4",
    "Stra\u00dfe 5",
    "",
]


class TestKernelKeyParity:
    """The matcher kernel's Python key functions equal Spark's Column
    functions on every string: a Python-only split of "a\\x1cb" would
    change the stage-3 votes."""

    def test_python_keys_equal_spark_keys(self, spark):
        text = F.col("text")
        rows = (
            spark.createDataFrame([(s,) for s in ADVERSARIAL], "text string")
            .select(
                "text",
                normalized_key(text).alias("nk"),
                token_prefix_key(text).alias("pk1"),
                token_prefix_key(text, 3).alias("pk3"),
                normalized_key_tokens(text).alias("toks"),
            )
            .collect()
        )
        assert len(rows) == len(ADVERSARIAL)
        for r in rows:
            s = r["text"]
            assert _py_normalized_key(s) == r["nk"], repr(s)
            assert _py_token_prefix_key(s) == r["pk1"], repr(s)
            assert _py_token_prefix_key(s, 3) == r["pk3"], repr(s)
            assert _py_normalized_key_tokens(s) == list(r["toks"]), repr(s)


class TestMatchEdgeCases:
    """Expected rows recorded from the SQL-chain matcher this kernel
    replaced."""

    def test_edge_rows(self, spark):
        cit = spark.createDataFrame(
            [
                (None, "c_null", "Text 1"),
                ("d1", "c_empty", ""),
                ("d1", "c_ws", " \t "),
                ("d1", "c_nulltext", None),
                ("d2", "c_notgt", "Text 1"),
                ("d1", "c_dup", "Text 1"),
                ("d1", "c_tie", "Smith 1999"),
                ("d1", "c_vote", "Jones 2001 x"),
            ],
            "doc_id string, citation_id string, text string",
        )
        tgt = spark.createDataFrame(
            [
                (None, "t_null", "Text 1", 0),
                # same key twice: the later target_seq wins, whatever the
                # row order
                ("d1", "t_late", "Text 1.", 7),
                ("d1", "t_early", "text 1", 3),
                ("d1", "t_a", "The title, Smith, 1999", 1),
                ("d1", "t_b", "Other title, Smith, 1999", 2),
                ("d1", "t_c", "Jones, 2001", 4),
            ],
            "doc_id string, content_id string, text string, target_seq long",
        )
        got = {r["citation_id"]: (r["doc_id"], r["target_content_id"])
               for r in match_content_ids(cit, tgt).collect()}
        assert got == {
            "c_null": (None, None),
            "c_empty": ("d1", None),
            "c_ws": ("d1", None),
            "c_nulltext": ("d1", None),
            "c_notgt": ("d2", None),
            "c_dup": ("d1", "t_late"),
            "c_tie": ("d1", None),
            "c_vote": ("d1", "t_c"),
        }

    def test_integer_doc_id_keeps_its_type(self, spark):
        cit = spark.createDataFrame(
            [(1, "c1", "Figure 2"), (2, "c2", "Fig 2"), (2, "c3", "zz"),
             (None, "c4", "Figure 2")],
            "doc_id int, citation_id string, text string",
        )
        tgt = spark.createDataFrame(
            [(1, "fig_0", "Figure 2", 0), (2, "fig_1", "Figure 2", 0)],
            "doc_id int, content_id string, text string, target_seq long",
        )
        out = match_content_ids(cit, tgt)
        assert out.schema.simpleString() == (
            "struct<doc_id:int,citation_id:string,target_content_id:string>"
        )
        assert sorted(map(tuple, out.collect()), key=repr) == [
            (1, "c1", "fig_0"), (2, "c2", "fig_1"), (2, "c3", None),
            (None, "c4", None),
        ]
