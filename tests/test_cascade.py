"""Cascade integration test — the mock-model trick from the reference's
tests/processors/fulltext/processor_test.py: every model is replaced by a
deterministic label table, so the full cascade runs as pure SQL.
"""
import pytest
from pyspark.sql import functions as F

from sciencebeam_parser_spark.plans.cascade import CascadeConfig, run_fulltext_cascade
from sciencebeam_parser_spark.plans.models import (
    DataFrameLabelModel,
    FunctionLabelModel,
)


@pytest.fixture(scope="module")
def doc(spark):
    # one document: header block (title/abstract), body (section + paragraph
    # + figure marker + figure), references (one reference)
    words = [
        # header region
        ("Deep", "<header>", "header", "B-<title>"),
        ("Spark", "<header>", "header", "I-<title>"),
        ("Abstract:", "<header>", "header", "B-<abstract>"),
        ("We", "<header>", "header", "I-<abstract>"),
        ("study", "<header>", "header", "I-<abstract>"),
        # body region
        ("1.", "<body>", "fulltext", "B-<section>"),
        ("Intro", "<body>", "fulltext", "I-<section>"),
        ("See", "<body>", "fulltext", "O"),
        ("Figure", "<body>", "fulltext", "B-<figure_marker>"),
        ("1", "<body>", "fulltext", "I-<figure_marker>"),
        ("Figure", "<body>", "fulltext", "B-<figure>"),
        ("1", "<body>", "fulltext", "I-<figure>"),
        ("caption", "<body>", "fulltext", "I-<figure>"),
        # references region
        ("[1]", "<references>", "reference_segmenter", "B-<label>"),
        ("Smith", "<references>", "reference_segmenter", "B-<reference>"),
        ("2020", "<references>", "reference_segmenter", "I-<reference>"),
    ]
    tokens = spark.createDataFrame(
        [
            ("d1", 1, 1, 1, i, text)
            for i, (text, _, _, _) in enumerate(words)
        ],
        "doc_id string, page_number int, block_id int, line_id int, "
        "token_seq long, text string",
    )
    label_rows = []
    for i, (text, seg_label, model, label) in enumerate(words):
        label_rows.append(("d1", i, "segmentation", seg_label))
        label_rows.append(("d1", i, model, label))
    # citation model labels over the reference region tokens
    label_rows += [
        ("d1", 14, "citation", "B-<author>"),
        ("d1", 15, "citation", "B-<date>"),
    ]
    labels = spark.createDataFrame(
        label_rows, "doc_id string, token_seq long, model_name string, label string"
    )
    return tokens, labels


class TestCascade:
    def test_extracts_front_body_and_references(self, spark, doc):
        tokens, labels = doc
        ents = run_fulltext_cascade(tokens, labels)
        by_type = {}
        for r in ents.collect():
            by_type.setdefault(r["entity_type"], []).append(r)

        assert by_type["title"][0]["text"] == "Deep Spark"
        ab = by_type["abstract"][0]
        assert ab["text"] == "Abstract: We study"
        # A17 abstract prefix strip applied to the typed column
        assert ab["clean_abstract"] == "We study"
        heading = by_type["heading"][0]
        assert heading["text"] == "1. Intro"
        assert heading["section_label"] == "1."
        # A19 id assignment
        assert by_type["raw_figure"][0]["content_id"] == "fig_0"
        assert by_type["raw_reference_text"][0]["content_id"] == "b0"
        # A17 year extraction via the citation model
        assert by_type["date"][0]["year"] == 2020
        # A20: 'Figure 1' marker → fig_0 target
        assert by_type["figure_citation"][0]["target_content_id"] == "fig_0"
        # A18 validity: citation fields include author/date → valid
        assert by_type["raw_reference_text"][0]["is_valid_reference"] is True

    def test_config_gating_prunes_stages(self, spark, doc):
        tokens, labels = doc
        ents = run_fulltext_cascade(
            tokens,
            labels,
            CascadeConfig(
                extract_body_sections=False,
                extract_references=False,
                match_citations=False,
            ),
        )
        types = {r["entity_type"] for r in ents.collect()}
        assert "title" in types
        assert "heading" not in types
        assert "raw_reference_text" not in types


class TestModelProtocol:
    def test_function_label_model(self, spark):
        tokens = spark.createDataFrame(
            [("d1", 0, "Hello"), ("d1", 1, "World"), ("d2", 0, "Other")],
            "doc_id string, token_seq long, text string",
        )
        model = FunctionLabelModel(
            "header",
            lambda texts: ["B-<title>"] + ["I-<title>"] * (len(texts) - 1),
        )
        out = model.apply(tokens).collect()
        assert len(out) == 3
        assert {r["model_name"] for r in out} == {"header"}
        d1 = sorted(
            (r for r in out if r["doc_id"] == "d1"), key=lambda r: r["token_seq"]
        )
        assert [r["label"] for r in d1] == ["B-<title>", "I-<title>"]

    def test_function_label_model_alignment_assert(self, spark):
        tokens = spark.createDataFrame(
            [("d1", 0, "Hello")], "doc_id string, token_seq long, text string"
        )
        bad = FunctionLabelModel("header", lambda texts: [])
        with pytest.raises(Exception):
            bad.apply(tokens).collect()

    def test_dataframe_label_model_is_pure_join(self, spark):
        tokens = spark.createDataFrame(
            [("d1", 0, "Hello")], "doc_id string, token_seq long, text string"
        )
        labels = spark.createDataFrame(
            [("d1", 0, "header", "B-<title>"), ("d1", 0, "other", "O")],
            "doc_id string, token_seq long, model_name string, label string",
        )
        out = DataFrameLabelModel("header", labels).apply(tokens).collect()
        assert len(out) == 1
        assert out[0]["label"] == "B-<title>"

    @pytest.mark.parametrize(
        "doc_ids", [(None, None, None), ("d1", None, "d1")],
        ids=["all_null", "mixed"],
    )
    @pytest.mark.parametrize("kind", ["function", "weight_table"])
    def test_null_doc_id_tokens_are_labeled(self, spark, kind, doc_ids):
        """A null doc_id is a document of its own: its tokens get labels
        like any other (no crash on a partition of null-doc tokens, no
        silently dropped rows)."""
        from sciencebeam_parser_spark.plans.models import WeightTableLabelModel

        tokens = spark.createDataFrame(
            [(d, seq, "word") for seq, d in enumerate(doc_ids)],
            "doc_id string, token_seq long, text string",
        )
        if kind == "function":
            model = FunctionLabelModel("m", lambda texts: ["O"] * len(texts))
        else:
            model = WeightTableLabelModel.distribute(
                spark, "wt_null_doc", weights={"<body>": {"bias": 1.0}}
            )
        out = model.apply(tokens).collect()
        assert sorted((r["doc_id"] or "", r["token_seq"]) for r in out) == (
            sorted((d or "", seq) for seq, d in enumerate(doc_ids))
        )
        assert all(r["label"] is not None for r in out)


class TestWeightTableModel:
    """WeightTableLabelModel — the real (non-injected) A11 path: artifact
    distribution, executor-singleton load, linear scoring, BIO decode."""

    WEIGHTS = {
        "<title>": {"bias": 1.0, "first3": 5.0},
        "<pubnum>": {"alldigit": 10.0},
        "<body>": {"bias": 2.0, "len5": 1.5},
    }

    def test_argmax_decode_via_spark(self, spark):
        from sciencebeam_parser_spark.plans.models import (
            WeightTableLabelModel,
            apply_model,
        )

        toks = spark.createDataFrame(
            [
                ("d1", 1, "alpha"), ("d1", 2, "b"), ("d1", 3, "c"),
                ("d1", 4, "12"), ("d1", 5, "word"), ("d1", 6, "longer"),
            ],
            "doc_id string, token_seq long, text string",
        )
        model = WeightTableLabelModel.distribute(
            spark, "wt_test", weights=self.WEIGHTS
        )
        rows = {
            r["token_seq"]: r["label"]
            for r in apply_model(toks, model).collect()
        }
        assert rows == {
            1: "B-<title>", 2: "I-<title>", 3: "I-<title>",
            4: "B-<pubnum>", 5: "B-<body>", 6: "I-<body>",
        }

    def test_viterbi_matches_brute_force(self):
        import itertools

        from sciencebeam_parser_spark.plans.models import (
            WeightTableLabelModel as M,
        )

        transitions = {
            "<title>": {"<title>": 2.0, "<body>": -1.0, "<pubnum>": 0.5},
            "<body>": {"<body>": 1.0, "<title>": -2.0, "<pubnum>": 0.0},
            "<pubnum>": {"<pubnum>": 3.0, "<body>": 0.5, "<title>": 0.0},
        }
        texts = ["alpha", "12", "x", "large", "7", "9"]
        seqs = [1, 2, 3, 4, 5, 6]
        labels = sorted(self.WEIGHTS)
        emit = [
            [
                sum(
                    self.WEIGHTS[lb].get(f, 0.0)
                    for f in M._features(t, s)
                )
                for lb in labels
            ]
            for t, s in zip(texts, seqs)
        ]

        def path_score(path):
            s = sum(emit[i][path[i]] for i in range(len(path)))
            for i in range(1, len(path)):
                s += transitions[labels[path[i - 1]]][labels[path[i]]]
            return s

        # brute force with the same tie-break (higher score, then smaller
        # label indices lexicographically over the whole path)
        best = max(
            itertools.product(range(len(labels)), repeat=len(texts)),
            key=lambda p: (path_score(p), tuple(-i for i in p)),
        )
        expected_tags = [labels[i] for i in best]
        got = M._decode_doc(texts, seqs, self.WEIGHTS, transitions, "viterbi")
        got_tags = [lb[2:] for lb in got]
        assert got_tags == expected_tags
        # BIO prefixes follow tag runs
        for i, lb in enumerate(got):
            if i == 0 or got_tags[i] != got_tags[i - 1]:
                assert lb.startswith("B-")
            else:
                assert lb.startswith("I-")

    def test_singleton_loads_once_per_process(self):
        from sciencebeam_parser_spark.utils import (
            executor_singleton,
            reset_singletons,
        )

        reset_singletons()
        calls = []
        factory = lambda: calls.append(1) or {"weights": {}}  # noqa: E731
        executor_singleton("wt_once", factory)
        executor_singleton("wt_once", factory)
        assert len(calls) == 1


class TestSegmentationRegionGates:
    def test_acknowledgement_and_annex_gates(self, spark):
        from sciencebeam_parser_spark.plans.cascade import CascadeConfig

        tokens = spark.createDataFrame(
            [("d1", 1, "ack"), ("d1", 2, "annex"), ("d1", 3, "body")],
            "doc_id string, token_seq long, text string",
        )
        labels = spark.createDataFrame(
            [
                ("d1", 1, "segmentation", "I-<acknowledgement>"),
                ("d1", 2, "segmentation", "I-<annex>"),
                ("d1", 3, "segmentation", "I-<body>"),
                ("d1", 1, "fulltext", "I-<paragraph>"),
                ("d1", 2, "fulltext", "I-<paragraph>"),
                ("d1", 3, "fulltext", "I-<paragraph>"),
            ],
            "doc_id string, token_seq long, model_name string, label string",
        )
        full = run_fulltext_cascade(tokens, labels)
        assert sum(r["n_tokens"] for r in full.collect()) == 3
        gated = run_fulltext_cascade(
            tokens,
            labels,
            CascadeConfig(
                extract_acknowledgements=False, extract_back_sections=False
            ),
        )
        rows = gated.collect()
        # only the <body> token survives the region gate
        assert sum(r["n_tokens"] for r in rows) == 1


class TestMergeRawAuthors:
    def test_merges_front_raw_authors_into_one_block(self, spark):
        from sciencebeam_parser_spark.plans.cascade import CascadeConfig

        tokens = spark.createDataFrame(
            [
                ("d1", 1, "alice"), ("d1", 2, "x"), ("d1", 3, "bob"),
            ],
            "doc_id string, token_seq long, text string",
        )
        labels = spark.createDataFrame(
            [
                ("d1", 1, "segmentation", "I-<header>"),
                ("d1", 2, "segmentation", "I-<header>"),
                ("d1", 3, "segmentation", "I-<header>"),
                # two separate author runs split by a title token
                ("d1", 1, "header", "I-<author>"),
                ("d1", 2, "header", "I-<title>"),
                ("d1", 3, "header", "I-<author>"),
            ],
            "doc_id string, token_seq long, model_name string, label string",
        )
        default = run_fulltext_cascade(tokens, labels)
        assert (
            default.filter(default.entity_type == "raw_authors").count() == 2
        )
        merged = run_fulltext_cascade(
            tokens, labels, CascadeConfig(merge_raw_authors=True)
        )
        rows = merged.filter(merged.entity_type == "raw_authors").collect()
        assert len(rows) == 1
        assert rows[0]["text"] == "alice bob"
        assert rows[0]["token_start"] == 1 and rows[0]["token_end"] == 3
        assert rows[0]["n_tokens"] == 2
