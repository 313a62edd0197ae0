"""Cascade integration test — the mock-model trick from the reference's
tests/processors/fulltext/processor_test.py: every model is replaced by a
deterministic label table, so the full cascade runs without a model.

Expected entity rows marked "recorded" were produced by the cascade's
former SQL statement (joins, windows and a cached relation) on the same
inputs; the per-document kernel must reproduce them row for row.
"""
import uuid

import pytest
from pyspark.sql import functions as F

from sciencebeam_parser_spark.operators.bio import (
    group_bio_entities,
    strip_tag_prefix,
)
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


ROW_COLUMNS = (
    "doc_id", "model_name", "entity_group", "tag", "entity_type", "region",
    "token_start", "token_end", "n_tokens", "text", "content_id",
    "target_content_id", "is_valid_reference",
)
TOKENS = "doc_id string, token_seq long, text string"
LABELS = "doc_id string, token_seq long, model_name string, label string"


def entity_rows(ents):
    return sorted(
        (tuple(r[c] for c in ROW_COLUMNS) for r in ents.collect()),
        key=lambda r: (str(r[0]), r[1], r[2]),
    )


def schema_of(ents):
    return [(f.name, f.dataType.simpleString()) for f in ents.schema.fields]


def doc_rows(doc_id, words, extra=()):
    """Token and label rows for one document: ``words`` holds (text,
    segmentation label, model, label) per token from token_seq 1; ``extra``
    adds (token_seq, model, label) rows."""
    tokens = [(doc_id, seq, w[0]) for seq, w in enumerate(words, 1)]
    labels = [
        row
        for seq, (_, seg, model, label) in enumerate(words, 1)
        for row in ((doc_id, seq, "segmentation", seg), (doc_id, seq, model, label))
    ]
    return tokens, labels + [(doc_id, seq, m, lb) for seq, m, lb in extra]


TRAILING_COLUMNS = [
    ("from_page", "string"), ("to_page", "string"), ("year", "int"),
    ("external_id_type", "string"), ("external_id_value", "string"),
    ("clean_abstract", "string"), ("section_label", "string"),
    ("content_id", "string"), ("target_content_id", "string"),
    ("is_valid_reference", "boolean"),
]
# recorded: with the validity stage on, token_start is the second column
VALIDITY_SCHEMA = [
    ("doc_id", "string"), ("token_start", "bigint"), ("model_name", "string"),
    ("entity_group", "bigint"), ("tag", "string"), ("entity_type", "string"),
    ("region", "string"), ("token_end", "bigint"), ("n_tokens", "bigint"),
    ("text", "string"),
] + TRAILING_COLUMNS
PRUNED_SCHEMA = [
    ("doc_id", "string"), ("model_name", "string"), ("entity_group", "bigint"),
    ("tag", "string"), ("entity_type", "string"), ("region", "string"),
    ("token_start", "bigint"), ("token_end", "bigint"), ("n_tokens", "bigint"),
    ("text", "string"),
] + TRAILING_COLUMNS
HEADER_ROWS = [
    ("d1", "header", 1, "<title>", "title", "front", 0, 1, 2, "Deep Spark",
     None, None, None),
    ("d1", "header", 2, "<abstract>", "abstract", "front", 2, 4, 3,
     "Abstract: We study", None, None, None),
]


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
        # recorded
        assert schema_of(ents) == VALIDITY_SCHEMA
        assert entity_rows(ents) == [
            ("d1", "citation", 1, "<author>", "raw_authors", "back", 14, 14, 1,
             "Smith", None, None, None),
            ("d1", "citation", 2, "<date>", "date", "back", 15, 15, 1, "2020",
             None, None, None),
            ("d1", "fulltext", 1, "<section>", "heading", "body", 5, 6, 2,
             "1. Intro", None, None, None),
            ("d1", "fulltext", 3, "<figure_marker>", "figure_citation", "body",
             8, 9, 2, "Figure 1", None, "fig_0", None),
            ("d1", "fulltext", 4, "<figure>", "raw_figure", "body", 10, 12, 3,
             "Figure 1 caption", "fig_0", None, None),
            *HEADER_ROWS,
            ("d1", "reference_segmenter", 1, "<label>", "reference_label",
             "back", 13, 13, 1, "[1]", None, None, None),
            ("d1", "reference_segmenter", 2, "<reference>",
             "raw_reference_text", "back", 14, 15, 2, "Smith 2020", "b0", None,
             True),
        ]

    def test_config_gating_prunes_stages(self, spark, doc):
        tokens, labels = doc
        for config in (
            CascadeConfig(
                extract_body_sections=False,
                extract_references=False,
                match_citations=False,
            ),
            CascadeConfig().for_requested_field_names({"title", "abstract"}),
        ):
            ents = run_fulltext_cascade(tokens, labels, config)
            types = {r["entity_type"] for r in ents.collect()}
            assert "title" in types
            assert "heading" not in types
            assert "raw_reference_text" not in types
            # recorded
            assert schema_of(ents) == PRUNED_SCHEMA
            assert entity_rows(ents) == HEADER_ROWS

    def test_conversion_leaves_no_persistent_rdd(self, spark, doc):
        """A conversion caches nothing: no persistent RDD outlives it (a
        long-lived conversion service would otherwise grow without
        bound)."""
        from sciencebeam_parser_spark.sinks.tei import entities_to_tei

        def persistent_ids():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

        # a document id of its own: the relation matches no plan an earlier
        # test may have cached
        doc_id = F.lit(f"leak-{uuid.uuid4().hex}")
        tokens, labels = (df.withColumn("doc_id", doc_id) for df in doc)
        before = persistent_ids()
        tei = entities_to_tei(run_fulltext_cascade(tokens, labels))
        tei.write.format("noop").mode("overwrite").save()
        assert persistent_ids() - before == set()


HEADER = [
    ("Deep", "I-<header>", "header", "B-<title>"),
    ("Spark", "I-<header>", "header", "I-<title>"),
]


def body(*words):
    return [(text, "I-<body>", "fulltext", label) for text, label in words]


REFERENCES = [
    (text, "I-<references>", "reference_segmenter", label)
    for text, label in [
        ("Smith", "B-<reference>"), ("Deep", "I-<reference>"),
        ("Jones", "B-<reference>"), ("Nets", "I-<reference>"),
        ("Brown", "B-<reference>"), ("2020", "I-<reference>"),
    ]
]
# a title straddling references 1 and 2; a date (not a validating type)
# inside reference 3
CITATION_FIELDS = [
    (1, "citation", "O"), (2, "citation", "B-<title>"),
    (3, "citation", "I-<title>"), (4, "citation", "O"),
    (5, "citation", "O"), (6, "citation", "B-<date>"),
]


def _edge_case(name):
    """(tokens, labels, tokens DDL, labels DDL, recorded rows) per case."""
    if name == "null_doc_id":
        t1, l1 = doc_rows("d1", HEADER)
        t0, l0 = doc_rows(None, HEADER)
        return t1 + t0, l1 + l0, TOKENS, LABELS, [
            ("d1", "header", 1, "<title>", "title", "front", 1, 2, 2,
             "Deep Spark", None, None, None),
        ]
    if name == "int_doc_id":
        t, lb = doc_rows(7, HEADER + body(
            ("Figure", "B-<figure>"), ("1", "I-<figure>"),
            ("Figure", "B-<figure_marker>"), ("1", "I-<figure_marker>"),
        ))
        return (
            t, lb, TOKENS.replace("doc_id string", "doc_id int"),
            LABELS.replace("doc_id string", "doc_id int"), [
                (7, "fulltext", 1, "<figure>", "raw_figure", "body", 3, 4, 2,
                 "Figure 1", "fig_0", None, None),
                (7, "fulltext", 2, "<figure_marker>", "figure_citation",
                 "body", 5, 6, 2, "Figure 1", None, "fig_0", None),
                (7, "header", 1, "<title>", "title", "front", 1, 2, 2,
                 "Deep Spark", None, None, None),
            ],
        )
    if name == "markers_without_targets":
        t, lb = doc_rows("d1", body(
            ("See", "O"), ("Figure", "B-<figure_marker>"),
            ("2", "I-<figure_marker>"), ("[3]", "B-<citation_marker>"),
            ("Table", "B-<table_marker>"), ("1", "I-<table_marker>"),
            ("text", "B-<paragraph>"),
        ))
        return t, lb, TOKENS, LABELS, [
            ("d1", "fulltext", 2, "<figure_marker>", "figure_citation", "body",
             2, 3, 2, "Figure 2", None, None, None),
            ("d1", "fulltext", 3, "<citation_marker>", "reference_citation",
             "body", 4, 4, 1, "[3]", None, None, None),
            ("d1", "fulltext", 4, "<table_marker>", "table_citation", "body",
             5, 6, 2, "Table 1", None, None, None),
            ("d1", "fulltext", 5, "<paragraph>", "paragraph", "body", 7, 7, 1,
             "text", None, None, None),
        ]
    if name == "vote_tie":
        # 'Figure' votes once for each figure (tie → null); 'alpha' votes
        # for fig_0 alone
        t, lb = doc_rows("d1", body(
            ("Figure", "B-<figure_marker>"), ("alpha", "B-<figure_marker>"),
            ("Figure", "B-<figure>"), ("alpha", "I-<figure>"),
            ("Figure", "B-<figure>"), ("beta", "I-<figure>"),
        ))
        return t, lb, TOKENS, LABELS, [
            ("d1", "fulltext", 1, "<figure_marker>", "figure_citation", "body",
             1, 1, 1, "Figure", None, None, None),
            ("d1", "fulltext", 2, "<figure_marker>", "figure_citation", "body",
             2, 2, 1, "alpha", None, "fig_0", None),
            ("d1", "fulltext", 3, "<figure>", "raw_figure", "body", 3, 4, 2,
             "Figure alpha", "fig_0", None, None),
            ("d1", "fulltext", 4, "<figure>", "raw_figure", "body", 5, 6, 2,
             "Figure beta", "fig_1", None, None),
        ]
    assert name == "straddling_field"
    t, lb = doc_rows("d1", REFERENCES, extra=CITATION_FIELDS)
    return t, lb, TOKENS, LABELS, [
        ("d1", "citation", 2, "<title>", "title", "back", 2, 3, 2,
         "Deep Jones", None, None, None),
        ("d1", "citation", 4, "<date>", "date", "back", 6, 6, 1, "2020", None,
         None, None),
        ("d1", "reference_segmenter", 1, "<reference>", "raw_reference_text",
         "back", 1, 2, 2, "Smith Deep", "b0", None, True),
        ("d1", "reference_segmenter", 2, "<reference>", "raw_reference_text",
         "back", 3, 4, 2, "Jones Nets", "b1", None, True),
        ("d1", "reference_segmenter", 3, "<reference>", "raw_reference_text",
         "back", 5, 6, 2, "Brown 2020", "b2", None, False),
    ]


class TestRecordedEdgeRows:
    @pytest.mark.parametrize(
        "name",
        ["null_doc_id", "int_doc_id", "markers_without_targets", "vote_tie",
         "straddling_field"],
    )
    def test_rows(self, spark, name):
        tokens, labels, tokens_ddl, labels_ddl, expected = _edge_case(name)
        ents = run_fulltext_cascade(
            spark.createDataFrame(tokens, tokens_ddl),
            spark.createDataFrame(labels, labels_ddl),
        )
        assert entity_rows(ents) == expected
        doc_type = "int" if name == "int_doc_id" else "string"
        assert schema_of(ents) == [("doc_id", doc_type)] + VALIDITY_SCHEMA[1:]


class TestBioParity:
    """The kernel's BIO islands against the SQL statement of the same rule,
    ``group_bio_entities`` over the region-gated rows with a token."""

    P, S = "<paragraph>", "<section>"
    # per document: (text, segmentation tag, fulltext label) from token_seq
    # 1; NO_TOKEN lists the (doc, token_seq) left without a token row
    SEQUENCES = {
        "b_restart": [("a", "<body>", "B-" + P), ("b", "<body>", "I-" + P),
                      ("c", "<body>", "B-" + P), ("d", "<body>", "I-" + P)],
        "tag_change": [("a", "<body>", "I-" + P), ("b", "<body>", "I-" + S),
                       ("c", "<body>", "I-" + P)],
        "o_runs": [("a", "<body>", "B-" + P), ("b", "<body>", "O"),
                   ("c", "<body>", "O"), ("d", "<body>", "I-" + P),
                   ("e", "<body>", "O"), ("f", "<body>", "B-" + S)],
        "outside_region": [("a", "<body>", "I-" + P),
                           ("b", "<header>", "I-" + P),
                           ("c", "<body>", "I-" + P),
                           ("d", "<header>", "I-" + S),
                           ("e", "<body>", "B-" + P)],
        "no_token_row": [("a", "<body>", "I-" + P), ("b", "<body>", "I-" + S),
                         ("c", "<body>", "I-" + P), ("d", "<body>", "I-" + S)],
        "null_label": [("a", "<body>", None), ("b", "<body>", "I-" + P),
                       ("c", "<body>", None), ("d", "<body>", "I-" + P),
                       ("e", "<body>", "I-" + P), ("f", "<body>", None),
                       ("g", "<body>", None), ("h", "<body>", "I-" + S)],
        "null_text": [(None, "<body>", "B-" + P), ("b", "<body>", "I-" + P),
                      (None, "<body>", "I-" + P), ("d", "<body>", "I-" + P),
                      (None, "<body>", "B-" + S)],
    }
    NO_TOKEN = {("no_token_row", 2), ("no_token_row", 4)}

    def test_islands_match_group_bio_entities(self, spark):
        token_rows, label_rows = [], []
        for doc_id, seq_rows in self.SEQUENCES.items():
            for seq, (text, seg, label) in enumerate(seq_rows, 1):
                if (doc_id, seq) not in self.NO_TOKEN:
                    token_rows.append((doc_id, seq, text))
                label_rows += [
                    (doc_id, seq, "segmentation", "I-" + seg),
                    (doc_id, seq, "fulltext", label),
                ]
        tokens = spark.createDataFrame(token_rows, TOKENS)
        labels = spark.createDataFrame(label_rows, LABELS)

        body_seqs = labels.filter(
            (F.col("model_name") == "segmentation")
            & (strip_tag_prefix(F.col("label")) == "<body>")
        ).select("doc_id", "token_seq")
        gated = (
            labels.filter(F.col("model_name") == "fulltext")
            .join(body_seqs, ["doc_id", "token_seq"])
            .join(tokens, ["doc_id", "token_seq"])
        )
        columns = ["doc_id", "model_name", "entity_group", "tag",
                   "token_start", "token_end", "n_tokens", "text"]
        expected = group_bio_entities(
            gated,
            partition_cols=("doc_id", "model_name"),
            text_col="text",
            keep_other=False,
        ).select(*columns)
        got = run_fulltext_cascade(
            tokens,
            labels,
            CascadeConfig(
                extract_front=False, extract_references=False,
                match_citations=False,
            ),
        ).select(*columns)
        expected_rows = sorted(tuple(r) for r in expected.collect())
        assert sorted(tuple(r) for r in got.collect()) == expected_rows
        # the cases bite: the out-of-region token merges the run around
        # it, and a null text is counted but not joined
        assert ("outside_region", "fulltext", 1, self.P, 1, 3, 2, "a c") in (
            expected_rows
        )
        assert ("null_text", "fulltext", 1, self.P, 1, 4, 4, "b d") in (
            expected_rows
        )


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
        # recorded
        assert entity_rows(full) == [
            ("d1", "fulltext", 1, "<paragraph>", "paragraph", "body", 1, 3, 3,
             "ack annex body", None, None, None),
        ]
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
        # recorded
        assert entity_rows(gated) == [
            ("d1", "fulltext", 1, "<paragraph>", "paragraph", "body", 3, 3, 1,
             "body", None, None, None),
        ]


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
        # recorded
        assert entity_rows(merged) == [
            ("d1", "header", 1, "<author>", "raw_authors", "front", 1, 3, 2,
             "alice bob", None, None, None),
            ("d1", "header", 2, "<title>", "title", "front", 2, 2, 1, "x",
             None, None, None),
        ]
