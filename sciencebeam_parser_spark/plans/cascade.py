"""The fulltext cascade (SURVEY §2A A28): segmentation → per-region models →
entity extraction → id assignment → citation matching, as a config-gated
DataFrame DAG.

Reference: processors/fulltext/processor.py:180-274
(``FullTextProcessor.get_semantic_document_for_layout_document``):

  1. segmentation model labels whole lines
  2. ``<header>`` tokens → header model → title/abstract/authors…
  3. ``<body>``/``<acknowledgement>``/``<annex>`` → fulltext model →
     sections/paragraphs/figure+table regions
  4. ``<references>`` → reference_segmenter → citation model per reference
  5. figure/table/reference id assignment (iter_ids, A19)
  6. citation-marker → target matching (A20)

Every stage is gated by a config flag (FullTextProcessorConfig,
processors/fulltext/config.py:30-50); disabled branches are simply not built
(lazy DAG = the reference's plan pruning, SURVEY §4).

Entity-type dispatch (A16) uses the per-model tag → semantic-type tables
(SIMPLE_SEMANTIC_CONTENT_CLASS_BY_TAG in models/*/extract.py); unmapped tags
become 'note' (SimpleModelSemanticExtractor default, models/extract.py:55-77).
Citation enrichment (A17/A18) adds parsed page ranges, external ids, year,
and the validity check (>=1 of title/journal/authors/editors/ext-id/url —
citation/extract.py:67-74, 165-179).
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.functions.parsers import (
    clean_abstract_text,
    detect_external_identifier,
    extract_year,
    parse_page_range,
    split_section_label,
)
from sciencebeam_parser_spark.operators.bio import (
    group_bio_entities,
    strip_tag_prefix,
)
from sciencebeam_parser_spark.operators.ref_matching import match_content_ids

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
        produce the requested fields are built — Catalyst never sees the
        pruned branches (the reference's boolean gates, our lazy DAG)."""
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


def _extract_all_entities(
    tokens: DataFrame,
    labels: DataFrame,
    model_regions: dict,
    region_by_seg_tag: dict,
) -> DataFrame:
    """BIO-group EVERY enabled model's labels in one pass.

    Single-pass design (scale rationale): the reference runs each model over
    its label-filtered view sequentially; a naive port builds one join+window
    +agg branch per model — 4× the shuffles of the data actually needed. Here
    the region gate and all models ride ONE tokens⋈seg join and ONE labels
    join, with the BIO window partitioned by (doc_id, model_name): same
    semantics (each model only sees its region's tokens; islands are per
    model), quarter the stages, and one shuffle of the fact table instead of
    four. model_regions: {model_name: region}; region_by_seg_tag:
    {segmentation tag: region}.
    """
    seg_region_map = F.create_map(
        *[F.lit(x) for kv in region_by_seg_tag.items() for x in kv]
    )
    seg = labels.filter(F.col("model_name") == "segmentation").select(
        "doc_id",
        "token_seq",
        seg_region_map[strip_tag_prefix(F.col("label"))].alias("region"),
    ).filter(F.col("region").isNotNull())

    model_region_map = F.create_map(
        *[F.lit(x) for kv in model_regions.items() for x in kv]
    )
    labeled = (
        labels.filter(F.col("model_name").isin(*model_regions.keys()))
        .join(seg, ["doc_id", "token_seq"])
        .filter(model_region_map[F.col("model_name")] == F.col("region"))
        .join(tokens.select("doc_id", "token_seq", "text"),
              ["doc_id", "token_seq"])
    )
    ents = group_bio_entities(
        labeled,
        partition_cols=("doc_id", "model_name"),
        text_col="text",
        keep_other=False,
    )
    return ents.select(
        "doc_id",
        "model_name",
        "entity_group",
        "tag",
        dispatch_entity_type().alias("entity_type"),
        model_region_map[F.col("model_name")].alias("region"),
        "token_start",
        "token_end",
        "n_tokens",
        "text",
    )


def _enrich_citation_fields(entities: DataFrame) -> DataFrame:
    """A17 scalar parsing on typed entities (citation/extract.py)."""
    pr = parse_page_range(F.col("text"))
    ext = detect_external_identifier(F.col("text"))
    return entities.select(
        "*",
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
    )


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
    # disabled models are simply absent from the single-pass gate map
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
    entities = _extract_all_entities(
        tokens, labels, model_regions, region_by_seg_tag
    )
    if config.merge_raw_authors:
        # one merged raw_authors entity per (doc, model): earliest group id
        # and span, texts joined in document order (processor.py merges the
        # semantic blocks the same way before the name model runs)
        is_ra = (F.col("entity_type") == "raw_authors") & (
            F.col("region") == "front"
        )
        ra = entities.filter(is_ra)
        merged = ra.groupBy("doc_id", "model_name").agg(
            F.min("entity_group").alias("entity_group"),
            F.first(F.lit("<author>")).alias("tag"),
            F.first(F.lit("raw_authors")).alias("entity_type"),
            F.first(F.lit("front")).alias("region"),
            F.min("token_start").alias("token_start"),
            F.max("token_end").alias("token_end"),
            F.sum("n_tokens").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("token_start", "text"))
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text"),
        )
        entities = entities.filter(~is_ra).unionByName(
            merged.select(*entities.columns)
        )
    entities = _enrich_citation_fields(entities)

    # A19 — content ids per entity family in document order
    # (processor.py:241-264: b<n> refs, fig_<n> figures, tab_<n> tables,
    # aff<n> affiliation addresses)
    id_prefix = (
        F.when(F.col("entity_type") == "raw_reference_text", "b")
        .when(F.col("entity_type") == "raw_figure", "fig_")
        .when(F.col("entity_type") == "raw_table", "tab_")
        .when(F.col("entity_type") == "raw_affiliation", "aff")
        .otherwise(F.lit(None))
    )
    entities = entities.withColumn("_id_prefix", id_prefix)
    w = W.partitionBy("doc_id", "_id_prefix").orderBy("token_start")
    entities = entities.withColumn(
        "content_id",
        F.when(
            F.col("_id_prefix").isNotNull(),
            F.concat(F.col("_id_prefix"), (F.row_number().over(w) - 1).cast("string")),
        ),
    ).drop("_id_prefix")

    # the entities relation fans out to markers/targets/validity branches;
    # materializing it once is the reference's result-cache analog (SURVEY §4)
    entities = entities.cache()

    if config.match_citations:
        markers = entities.filter(
            F.col("entity_type").isin(
                "reference_citation", "figure_citation", "table_citation"
            )
        ).select(
            "doc_id",
            "model_name",
            F.concat_ws("_", "entity_type", F.col("entity_group").cast("string")).alias(
                "citation_id"
            ),
            "text",
            "entity_group",
        )
        # Adaptive marker probe: with zero citation markers marker_targets
        # is empty by construction and the left join below is the identity
        # plus a null column. Probing the CACHED entities relation (one
        # filter over rows the downstream branches materialize anyway)
        # skips the matcher's shuffle, Python stage and join. Without the
        # probe a marker-free single-doc benchmark conversion runs 22 jobs
        # instead of 14.
        if markers.isEmpty():
            entities = entities.withColumn(
                "target_content_id", F.lit(None).cast("string")
            )
            return _finish_cascade(entities, config)
        targets = entities.filter(F.col("content_id").isNotNull()).select(
            "doc_id",
            "content_id",
            "text",
            F.col("token_start").alias("target_seq"),
        )
        matches = match_content_ids(markers, targets)
        marker_targets = markers.join(matches, ["doc_id", "citation_id"]).select(
            "doc_id", "model_name", "entity_group", "target_content_id"
        )
        # entity_group is only unique within (doc_id, model_name) — the
        # model key keeps marker matches from leaking onto other models'
        # same-numbered entities
        joined = entities.join(
            marker_targets, ["doc_id", "model_name", "entity_group"], "left"
        )
        # the validity branches only read pre-join columns, and the left
        # join is row-preserving (≤1 marker_targets row per key), so they
        # derive from the CACHED pre-join relation — two fewer embeddings
        # of the matcher subtree in the final plan
        return _finish_cascade(joined, config, base=entities)
    entities = entities.withColumn(
        "target_content_id", F.lit(None).cast("string")
    )

    return _finish_cascade(entities, config)


def _finish_cascade(
    entities: DataFrame,
    config: "CascadeConfig",
    base: DataFrame | None = None,
) -> DataFrame:
    """A18 validity + final shape — shared tail of run_fulltext_cascade.

    ``base``: the relation to derive the reference/field spans from when
    it differs from ``entities`` only by row-preserving appended columns
    (the marker-target join) — same rows, smaller plan."""
    if base is None:
        base = entities
    # A18 — validity PER REFERENCE (citation/extract.py:67-74,165-179):
    # a raw reference is valid iff the CITATION model produced >=1
    # valid-type entity overlapping ITS token span — not "any model,
    # anywhere in the doc" (a header-model title must not validate the
    # references). Overlap, not containment: the mock citation model
    # labels the whole back region, so a field run may straddle a
    # reference boundary.
    if config.extract_references and config.extract_citation_fields:
        refs = base.filter(
            F.col("entity_type") == "raw_reference_text"
        ).select(
            F.col("doc_id").alias("_r_doc"),
            F.col("token_start").alias("_r_start"),
            F.col("token_end").alias("_r_end"),
        )
        fields = base.filter(
            (F.col("model_name") == "citation")
            & F.col("entity_type").isin(*VALID_REFERENCE_TYPES)
        ).select(
            F.col("doc_id").alias("_f_doc"),
            F.col("token_start").alias("_f_start"),
            F.col("token_end").alias("_f_end"),
        )
        valid_refs = (
            refs.join(
                fields,
                (F.col("_f_doc") == F.col("_r_doc"))
                & (F.col("_f_start") <= F.col("_r_end"))
                & (F.col("_f_end") >= F.col("_r_start")),
            )
            .select(
                F.col("_r_doc").alias("doc_id"),
                F.col("_r_start").alias("token_start"),
            )
            .distinct()
            .withColumn("_has_valid_ref_fields", F.lit(True))
        )
        entities = entities.join(
            valid_refs, ["doc_id", "token_start"], "left"
        ).withColumn(
            "is_valid_reference",
            F.when(
                F.col("entity_type") == "raw_reference_text",
                F.coalesce("_has_valid_ref_fields", F.lit(False)),
            ),
        ).drop("_has_valid_ref_fields")
    else:
        entities = entities.withColumn(
            "is_valid_reference", F.lit(None).cast("boolean")
        )
    return entities
