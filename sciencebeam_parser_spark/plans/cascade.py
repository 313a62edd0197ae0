"""The fulltext cascade (SURVEY §2A A28): segmentation → per-region models →
entity extraction → id assignment → citation matching, one document at a
time.

Reference: processors/fulltext/processor.py:180-274
(``FullTextProcessor.get_semantic_document_for_layout_document``):

  1. segmentation model labels whole lines
  2. ``<header>`` tokens → header model → title/abstract/authors…
  3. ``<body>``/``<acknowledgement>``/``<annex>`` → fulltext model →
     sections/paragraphs/figure+table regions
  4. ``<references>`` → reference_segmenter → citation model per reference
  5. figure/table/reference id assignment (iter_ids, A19)
  6. citation-marker → target matching (A20)

The models have labeled every token beforehand (the F2 labels table).
Like the reference, the rest runs per document: tokens and labels are
unioned with a side flag, and ``utils.map_documents`` hands each document's
rows to one Python function that gates each model's labels to its region,
then groups, types, numbers and matches the entities over lists and dicts.
The plan is one shuffle plus one Python stage, and building it starts no
Spark job. ``operators.bio.group_bio_entities`` is the SQL statement of the BIO
step and the kernel's parity reference.

Every stage is gated by a config flag (FullTextProcessorConfig,
processors/fulltext/config.py:30-50); a disabled model's labels are
filtered out before the shuffle and never reach Python (SURVEY §4 plan
pruning).

Entity-type dispatch (A16) uses the per-model tag → semantic-type tables
(SIMPLE_SEMANTIC_CONTENT_CLASS_BY_TAG in models/*/extract.py); unmapped tags
become 'note' (SimpleModelSemanticExtractor default, models/extract.py:55-77).
Citation enrichment (A17) adds parsed page ranges, external ids and year as
Spark Columns over the kernel's output; the A18 validity check (>=1 of
title/journal/authors/editors/ext-id/url — citation/extract.py:67-74,
165-179) runs in the kernel.
"""
from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sciencebeam_parser_spark.functions.parsers import (
    clean_abstract_text,
    detect_external_identifier,
    extract_year,
    parse_page_range,
    split_section_label,
)
from sciencebeam_parser_spark.operators.bio import TAG_PREFIX_RE
from sciencebeam_parser_spark.operators.ref_matching import _DocMatcher
from sciencebeam_parser_spark.utils import map_documents

# tag → entity_type dispatch tables (A16), per model:
# header: models/header/extract.py:49-53; fulltext: models/fulltext/extract.py
# :27-38; citation: models/citation/extract.py:55-64; reference_segmenter:
# models/reference_segmenter/extract.py
ENTITY_TYPE_BY_TAG = {
    "header": {
        "<title>": "title",
        "<abstract>": "abstract",
        "<author>": "raw_authors",
        "<affiliation>": "raw_affiliation",
        "<address>": "raw_address",
        "<date>": "date",
        "<journal>": "journal",
        "<publisher>": "publisher",
        "<pubnum>": "external_identifier",
        "<keyword>": "keywords",
        "<email>": "email",
        "<web>": "external_url",
    },
    "fulltext": {
        "<section>": "heading",
        "<paragraph>": "paragraph",
        "<citation_marker>": "reference_citation",
        "<figure_marker>": "figure_citation",
        "<table_marker>": "table_citation",
        "<figure>": "raw_figure",
        "<table>": "raw_table",
        "<equation>": "equation",
        "<equation_label>": "equation_label",
        "<item>": "list_item",
    },
    "reference_segmenter": {
        "<label>": "reference_label",
        "<reference>": "raw_reference_text",
    },
    # sub-model tag tables (the grammars in extract_grammars.py consume
    # these tags; the dispatch rows give every semantic type a first-class
    # relational name — semantic_document.py:248-539):
    # name: models/name/extract.py:36-42
    "name": {
        "<title>": "name_title",
        "<forename>": "given_name",
        "<middlename>": "middle_name",
        "<surname>": "surname",
        "<suffix>": "name_suffix",
        "<marker>": "marker",
    },
    # affiliation_address: models/affiliation_address/extract.py:31-41
    "affiliation_address": {
        "<institution>": "institution",
        "<department>": "department",
        "<laboratory>": "laboratory",
        "<addrLine>": "address_line",
        "<postCode>": "post_code",
        "<postBox>": "post_box",
        "<region>": "address_region",
        "<settlement>": "settlement",
        "<country>": "country",
        "<marker>": "marker",
    },
    # figure / table: models/figure/extract.py:18-21, models/table/
    # extract.py:18-21 (identical label/caption tables)
    "figure": {
        "<label>": "label",
        "<figDesc>": "caption",
    },
    "table": {
        "<label>": "label",
        "<figDesc>": "caption",
    },
    "citation": {
        "<author>": "raw_authors",
        "<editor>": "raw_editors",
        "<title>": "title",
        "<journal>": "journal",
        "<booktitle>": "booktitle",
        "<series>": "series",
        "<date>": "date",
        "<volume>": "volume",
        "<issue>": "issue",
        "<pages>": "page_range",
        "<publisher>": "publisher",
        "<location>": "location",
        "<institution>": "institution",
        "<collaboration>": "collaboration",
        "<tech>": "tech_note",
        "<web>": "external_url",
        "<pubnum>": "external_identifier",
    },
}

# citation/extract.py:67-74 — a reference is valid iff it has one of these
VALID_REFERENCE_TYPES = (
    "title",
    "journal",
    "raw_authors",
    "raw_editors",
    "external_identifier",
    "external_url",
)


def dispatch_entity_type(
    model_col: str = "model_name", tag_col: str = "tag"
):
    """Combined (model, tag) → entity_type dispatch expression; unmapped
    tags default to 'note' (SimpleModelSemanticExtractor,
    models/extract.py:66-77)."""
    dispatch = F.create_map(
        *[
            F.lit(x)
            for model, mapping in ENTITY_TYPE_BY_TAG.items()
            for tag, etype in mapping.items()
            for x in (f"{model}\x00{tag}", etype)
        ]
    )
    return F.coalesce(
        dispatch[F.concat_ws("\x00", model_col, tag_col)], F.lit("note")
    )


@dataclass
class CascadeConfig:
    """FullTextProcessorConfig analog (processors/fulltext/config.py:30-50)."""

    extract_front: bool = True
    extract_body_sections: bool = True
    # separate gates for the two non-body segmentation regions routed to
    # the fulltext model (FullTextProcessorConfig.extract_acknowledgements
    # / extract_back_sections, processors/fulltext/config.py:35-36)
    extract_acknowledgements: bool = True
    extract_back_sections: bool = True
    extract_references: bool = True
    extract_citation_fields: bool = True
    match_citations: bool = True
    # FullTextProcessorConfig.merge_raw_authors (config.py:43): collapse a
    # document's front raw_authors entities into ONE block before the name
    # model (the reference merges the layout blocks; default off)
    merge_raw_authors: bool = False
    segmentation_labels_front: tuple = ("<header>",)
    segmentation_labels_body: tuple = ("<body>", "<acknowledgement>", "<annex>")
    segmentation_labels_references: tuple = ("<references>",)

    # RequestFieldNames (processors/fulltext/config.py:11-27): the
    # architecture-independent field names a /api/convert `includes=`
    # request may carry; FRONT_FIELDS gate the header model
    FRONT_FIELDS = frozenset({"title", "abstract", "authors", "affiliations"})

    def for_requested_field_names(self, field_names) -> "CascadeConfig":
        """Plan pruning from requested output fields
        (FullTextProcessorConfig.get_for_requested_field_names,
        processors/fulltext/config.py:58-81): an empty or unrecognized
        request keeps the full cascade; otherwise only the stages that
        produce the requested fields run — a pruned model's labels are
        filtered out before the shuffle and never reach Python (the
        reference's boolean gates)."""
        from dataclasses import replace

        fields = set(field_names or ())
        if not fields:
            return self
        remaining = fields - self.FRONT_FIELDS - {"references"}
        if remaining:
            return self
        return replace(
            self,
            extract_front=bool(self.FRONT_FIELDS & fields),
            extract_body_sections=False,
            extract_references="references" in fields,
            extract_citation_fields="references" in fields,
            match_citations="references" in fields,
        )


# A19 content-id prefix per entity family (processor.py:241-264)
CONTENT_ID_PREFIX = {
    "raw_reference_text": "b",
    "raw_figure": "fig_",
    "raw_table": "tab_",
    "raw_affiliation": "aff",
}
MARKER_TYPES = ("reference_citation", "figure_citation", "table_citation")
# the kernel's columns after doc_id; the A17 columns go between the two
_ENTITY_COLUMNS = (
    "model_name", "entity_group", "tag", "entity_type", "region",
    "token_start", "token_end", "n_tokens", "text",
)
_LINK_COLUMNS = ("content_id", "target_content_id", "is_valid_reference")
_TAG_PREFIX = re.compile(TAG_PREFIX_RE)


def _bio_islands(rows):
    """``(token_seq, label, text)`` rows in document order → one
    ``(tag, rows)`` island each, numbered from 1 by position, as
    ``group_bio_entities`` numbers them (models/model.py:61-79).

    A ``B-`` label or a tag change starts an island. A null label has a
    null tag: it continues the island before it, and the row after it
    starts a new one (the SQL boundary test is NULL, which its running
    sum skips, then true against a null previous tag)."""
    islands = []
    prev_tag = None
    for row in rows:
        label = row[1]
        tag = None if label is None else _TAG_PREFIX.sub("", label)
        if prev_tag is None or (
            label is not None and (label.startswith("B-") or tag != prev_tag)
        ):
            islands.append((tag, []))
        islands[-1][1].append(row)
        prev_tag = tag
    return islands


def _citation_field_columns():
    """A17 scalar parsing on typed entities (citation/extract.py)."""
    pr = parse_page_range(F.col("text"))
    ext = detect_external_identifier(F.col("text"))
    return [
        F.when(F.col("entity_type") == "page_range", pr["from_page"]).alias("from_page"),
        F.when(F.col("entity_type") == "page_range", pr["to_page"]).alias("to_page"),
        F.when(F.col("entity_type") == "date", extract_year(F.col("text"))).alias("year"),
        F.when(F.col("entity_type") == "external_identifier", ext["id_type"]).alias(
            "external_id_type"
        ),
        F.when(F.col("entity_type") == "external_identifier", ext["value"]).alias(
            "external_id_value"
        ),
        F.when(
            F.col("entity_type") == "abstract", clean_abstract_text(F.col("text"))
        ).alias("clean_abstract"),
        F.when(
            F.col("entity_type") == "heading",
            split_section_label(F.col("text"))["section_label"],
        ).alias("section_label"),
    ]


def run_fulltext_cascade(
    tokens: DataFrame,
    labels: DataFrame,
    config: CascadeConfig | None = None,
) -> DataFrame:
    """Run the mock-model cascade over an F1 tokens table with an F2 labels
    table (all models pre-labeled, the fully-relational form). Returns the
    entities relation (one row per semantic entity).
    """
    config = config or CascadeConfig()
    # config gates = plan pruning (processors/fulltext/config.py:30-50):
    # a disabled model's labels are filtered out before the shuffle
    model_regions: dict = {}
    if config.extract_front:
        model_regions["header"] = "front"
    if config.extract_body_sections:
        model_regions["fulltext"] = "body"
    if config.extract_references:
        model_regions["reference_segmenter"] = "back"
        if config.extract_citation_fields:
            model_regions["citation"] = "back"
    body_labels = tuple(
        t
        for t in config.segmentation_labels_body
        if (t != "<acknowledgement>" or config.extract_acknowledgements)
        and (t != "<annex>" or config.extract_back_sections)
    )
    region_by_seg_tag = {
        **{t: "front" for t in config.segmentation_labels_front},
        **{t: "body" for t in body_labels},
        **{t: "back" for t in config.segmentation_labels_references},
    }
    check_validity = config.extract_references and config.extract_citation_fields

    both = (
        tokens.select("doc_id", "token_seq", "text", F.lit(True).alias("_is_token"))
        .unionByName(
            labels.filter(
                F.col("model_name").isin("segmentation", *model_regions)
            ).select(
                "doc_id", "token_seq", "model_name", "label",
                F.lit(False).alias("_is_token"),
            ),
            allowMissingColumns=True,
        )
        # a row without a doc_id or token_seq joins no other row
        .dropna(subset=["doc_id", "token_seq"])
    )
    seq_type = both.schema["token_seq"].dataType
    types = {
        "entity_group": T.LongType(),
        "token_start": seq_type,
        "token_end": seq_type,
        "n_tokens": T.LongType(),
        "is_valid_reference": T.BooleanType(),
    }
    schema = T.StructType(
        [both.schema["doc_id"]]
        + [
            T.StructField(c, types.get(c, T.StringType()))
            for c in _ENTITY_COLUMNS + _LINK_COLUMNS
        ]
    )

    def cascade_doc(doc_id, doc):
        texts = defaultdict(list)
        seg_regions = defaultdict(list)
        model_rows = defaultdict(list)
        columns = ("_is_token", "token_seq", "text", "model_name", "label")
        for is_token, seq, text, model, label in zip(
            *(doc[c].tolist() for c in columns)
        ):
            if is_token:
                texts[seq].append(text)
            elif model != "segmentation":
                model_rows[model].append((seq, label))
            elif label is not None:
                region = region_by_seg_tag.get(_TAG_PREFIX.sub("", label))
                if region is not None:
                    seg_regions[seq].append(region)

        # BIO islands per model over the rows inside its region that have
        # a token (one row per matching segmentation label and token row);
        # text breaks token_seq ties, since row order does not survive the
        # shuffle
        ents = []
        for model, rows in model_rows.items():
            region = model_regions[model]
            gated = sorted(
                (
                    (seq, label, text)
                    for seq, label in rows
                    for seg_region in seg_regions.get(seq, ())
                    if seg_region == region
                    for text in texts.get(seq, ())
                ),
                key=lambda r: (r[0], r[2] or ""),
            )
            for group, (tag, members) in enumerate(_bio_islands(gated), 1):
                if tag is None or tag == "O":
                    continue
                ents.append({
                    "model_name": model,
                    "entity_group": group,
                    "tag": tag,
                    "entity_type": ENTITY_TYPE_BY_TAG[model].get(tag, "note"),
                    "region": region,
                    "token_start": members[0][0],
                    "token_end": members[-1][0],
                    "n_tokens": len(members),
                    "text": " ".join(t for _, _, t in members if t is not None),
                    "content_id": None,
                    "target_content_id": None,
                    "is_valid_reference": None,
                })

        if config.merge_raw_authors:
            # one merged front raw_authors entity: earliest group id and
            # span, texts joined in document order (processor.py merges the
            # semantic blocks the same way before the name model runs)
            def is_author(e):
                return e["entity_type"] == "raw_authors" and e["region"] == "front"

            authors = sorted(
                filter(is_author, ents), key=lambda e: (e["token_start"], e["text"])
            )
            if authors:
                merged = {
                    **authors[0],
                    "token_end": max(e["token_end"] for e in authors),
                    "n_tokens": sum(e["n_tokens"] for e in authors),
                    "text": " ".join(e["text"] for e in authors),
                }
                ents = [e for e in ents if not is_author(e)] + [merged]

        # A19 — content ids per entity family in document order
        for entity_type, prefix in CONTENT_ID_PREFIX.items():
            family = sorted(
                (e for e in ents if e["entity_type"] == entity_type),
                key=lambda e: e["token_start"],
            )
            for i, e in enumerate(family):
                e["content_id"] = f"{prefix}{i}"

        # A20 — markers → content ids; a document without markers skips it
        markers = [e for e in ents if e["entity_type"] in MARKER_TYPES]
        if config.match_citations and markers:
            matcher = _DocMatcher(prefix_length=1)
            targets = sorted(
                (e for e in ents if e["content_id"] is not None),
                key=lambda e: e["token_start"],
            )
            for e in targets:
                matcher.add(e["content_id"], e["text"])
            for e in markers:
                e["target_content_id"] = matcher.match(e["text"])

        # A18 — validity PER REFERENCE (citation/extract.py:67-74,165-179):
        # a raw reference is valid iff the CITATION model produced >=1
        # valid-type entity overlapping ITS token span — not "any model,
        # anywhere in the doc" (a header-model title must not validate the
        # references). Overlap, not containment: the mock citation model
        # labels the whole back region, so a field run may straddle a
        # reference boundary.
        if check_validity:
            spans = [
                (e["token_start"], e["token_end"]) for e in ents
                if e["model_name"] == "citation"
                and e["entity_type"] in VALID_REFERENCE_TYPES
            ]
            for e in ents:
                if e["entity_type"] == "raw_reference_text":
                    e["is_valid_reference"] = any(
                        start <= e["token_end"] and end >= e["token_start"]
                        for start, end in spans
                    )
        return [
            (doc_id, *(e[c] for c in _ENTITY_COLUMNS + _LINK_COLUMNS))
            for e in ents
        ]

    entities = map_documents(both, "doc_id", cascade_doc, schema)
    # with validity on, the relation's schema carries token_start second
    lead = ["doc_id", "token_start"] if check_validity else ["doc_id"]
    return entities.select(
        *lead,
        *[c for c in _ENTITY_COLUMNS if c not in lead],
        *_citation_field_columns(),
        *_LINK_COLUMNS,
    )
