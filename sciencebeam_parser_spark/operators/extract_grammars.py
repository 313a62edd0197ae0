"""Stateful extract grammars (SURVEY §2A A16): tag-run sequences → semantic
structures, for the three reference models whose extraction is a genuine
stateful fold (not a per-run dispatch):

- name:       models/name/extract.py:126-193 (``NameSemanticExtractor``) —
              split-on-second-{title,forename,surname}, marker handling
              (leading, after-comma split, tail marker), then
              ``normalize_name_parts`` (:87-96): no-surname → invalid note,
              two-letter-uppercase given name → given+middle
              (:43-74), title-casing (:77-81).
- affiliation: models/affiliation_address/extract.py (class
              ``AffiliationAddressSemanticExtractor``) — new affiliation per
              ``<marker>``, split on second ``<institution>``, country
              trailing-dot clean via ``CLEAN_REGEX_BY_TAG``
              (``(.*[^.]).*``) with prefix/suffix notes, ids ``aff0..``.
- reference_segmenter: models/reference_segmenter/extract.py (class
              ``ReferenceSegmenterSemanticExtractor``) — ``<label>`` opens/
              joins a raw reference, ``<reference>`` closes it; a short
              (≤3 tokens) first un-labeled reference becomes a heading;
              ids ``b0..``.

Spark mapping: these grammars need ordered lookahead/lookbehind over an
entire entity-run sequence with mutable accumulator state, so they run as
per-document pandas folds through ``utils.map_documents`` (SURVEY §7 "keep
them as per-group pandas code, don't force SQL"). Input is the entity-run
relation produced by ``group_bio_entities`` (one row per tagged run,
ordered by ``entity_group``); the grouping key bounds state to one
document (or one name-model invocation) at a time, many documents share
one Arrow batch, and the only shuffle is the one that co-locates them.
"""
from __future__ import annotations

import re
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from sciencebeam_parser_spark.utils import map_documents

# ---------------------------------------------------------------------------
# name grammar (models/name/extract.py)
# ---------------------------------------------------------------------------

# models/name/extract.py:27
SPLIT_ON_SECOND_ENTITY_NAME = {"<title>", "<forename>", "<surname>"}

# models/name/extract.py:30-36 (SIMPLE_SEMANTIC_CONTENT_CLASS_BY_TAG)
NAME_PART_BY_TAG = {
    "<title>": "name_title",
    "<forename>": "given_name",
    "<middlename>": "middle_name",
    "<surname>": "surname",
    "<suffix>": "name_suffix",
}

# parts that carry a "seen name label" (non-note content)
_NAME_PART_TYPES = set(NAME_PART_BY_TAG.values())
# parts that are SemanticNamePart subclasses → title-cased
# (semantic_document.py: SemanticNamePart = given/middle/surname/suffix;
# SemanticNameTitle is NOT a SemanticNamePart)
_TITLE_CASED_PARTS = {"given_name", "middle_name", "surname", "name_suffix"}

NAME_PARTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("group_id", StringType()),
        StructField("name_seq", IntegerType()),
        StructField("part_seq", IntegerType()),
        StructField("part_type", StringType()),
        StructField("text", StringType()),
        StructField("is_valid", StringType()),
    ]
)


def _iter_marker_parts(text: str) -> Iterator[Tuple[str, str]]:
    """iter_semantic_markers_for_layout_block (name/extract.py:99-115):
    split on every non-digit char; ','/whitespace → delimiter note, other
    runs → markers (digit runs stay whole)."""
    for piece in re.split(r"(\D)", text):
        if not piece:
            continue
        if piece == "," or piece.isspace():
            yield ("marker_delimiter", piece)
        else:
            yield ("marker", piece)


def _normalize_name(parts: List[Tuple[str, str]]) -> Tuple[List[Tuple[str, str]], bool]:
    """normalize_name_parts (name/extract.py:87-96). Returns (parts, valid)."""
    if not any(pt == "surname" for pt, _ in parts):
        # invalid: collapse to a single note (space-joined text of all parts)
        text = " ".join(t for _, t in parts if t.strip())
        return [("invalid_author_name", text)], False
    # two-letter uppercase given name → given + middle (:43-74)
    given = [(i, t) for i, (pt, t) in enumerate(parts) if pt == "given_name"]
    has_middle = any(pt == "middle_name" for pt, _ in parts)
    if len(given) == 1 and not has_middle:
        idx, text = given[0]
        if len(text) == 2 and text.isupper():
            parts = (
                parts[:idx]
                + [("given_name", text[0]), ("middle_name", text[1])]
                + parts[idx + 1:]
            )
    # title-case name parts (:77-81)
    return (
        [
            (pt, t.title() if pt in _TITLE_CASED_PARTS else t)
            for pt, t in parts
        ],
        True,
    )


def _fold_names(tag_texts: List[Tuple[str, str]]) -> Iterator[Tuple[List[Tuple[str, str]], bool]]:
    """The NameSemanticExtractor fold (name/extract.py:131-193) over a
    sequence of (tag, text) entity runs; yields (parts, is_valid) names."""
    current: Optional[List[Tuple[str, str]]] = None
    seen_name_labels: List[str] = []
    has_tail_marker = False
    prev_text: Optional[str] = None

    for tag, text in tag_texts:
        if tag == "<marker>":
            if current is None:
                current = list(_iter_marker_parts(text))
                prev_text = text
                continue
            if (
                prev_text is not None
                and seen_name_labels
                and not has_tail_marker
                and prev_text.strip().endswith(",")
            ):
                yield _normalize_name(current)
                seen_name_labels = []
                current = list(_iter_marker_parts(text))
                prev_text = text
                continue
            current.extend(_iter_marker_parts(text))
            has_tail_marker = True
            prev_text = text
            continue
        if (
            current is not None
            and tag in SPLIT_ON_SECOND_ENTITY_NAME
            and tag in seen_name_labels
        ):
            yield _normalize_name(current)
            seen_name_labels = []
            has_tail_marker = False
            current = None
        part_type = NAME_PART_BY_TAG.get(tag)
        if part_type is not None:
            if has_tail_marker and current is not None:
                yield _normalize_name(current)
                seen_name_labels = []
                has_tail_marker = False
                current = None
            seen_name_labels.append(tag)
        if current is None:
            current = []
        current.append((part_type or "note", text))
        prev_text = text
    if current is not None:
        yield _normalize_name(current)


def extract_names(
    entity_runs: DataFrame,
    *,
    group_col: str = "group_id",
) -> DataFrame:
    """Fold tagged runs into author/editor name structures.

    entity_runs: (doc_id, <group_col>, entity_group, tag, text) — one row per
    BIO run in document order (``group_bio_entities`` output). ``group_col``
    scopes one name-model invocation (e.g. one raw_authors entity).
    Returns one row per name part:
    (doc_id, group_id, name_seq, part_seq, part_type, text, is_valid).
    """

    def fold_group(key, runs):
        doc_id, gid = key
        return [
            (doc_id, gid, name_seq, part_seq, part_type, text,
             "true" if valid else "false")
            for name_seq, (parts, valid) in enumerate(
                _fold_names(list(zip(runs["tag"], runs["text"])))
            )
            for part_seq, (part_type, text) in enumerate(parts)
        ]

    return map_documents(
        entity_runs.select("doc_id", group_col, "entity_group", "tag", "text"),
        ["doc_id", group_col],
        fold_group,
        NAME_PARTS_SCHEMA,
        order_by="entity_group",
    )


# ---------------------------------------------------------------------------
# affiliation grammar (models/affiliation_address/extract.py)
# ---------------------------------------------------------------------------

AFF_PART_BY_TAG = {
    "<institution>": "institution",
    "<department>": "department",
    "<laboratory>": "laboratory",
    "<addrLine>": "address_line",
    "<postCode>": "post_code",
    "<postBox>": "post_box",
    "<region>": "region",
    "<settlement>": "settlement",
    "<country>": "country",
}

# CLEAN_REGEX_BY_TAG: strip anything after the last non-dot char
_COUNTRY_CLEAN_RE = re.compile(r"(.*[^.]).*")

AFF_PARTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("aff_id", StringType()),
        StructField("part_seq", IntegerType()),
        StructField("part_type", StringType()),
        StructField("text", StringType()),
    ]
)


def _clean_with_prefix_suffix(text: str, pattern: Optional[re.Pattern]):
    """get_regex_cleaned_layout_block_with_prefix_suffix (models/extract.py):
    returns (prefix, cleaned, suffix) — pattern group 1 is the kept middle."""
    if pattern is None:
        return "", text, ""
    m = pattern.match(text)
    if not m or not m.group(1):
        return "", text, ""
    start, end = m.span(1)
    return text[:start], text[start:end], text[end:]


def extract_affiliations(entity_runs: DataFrame) -> DataFrame:
    """Fold affiliation-model runs into affiliation structures with ids
    ``aff0, aff1, …`` per document. Input: (doc_id, entity_group, tag, text).
    Output: (doc_id, aff_id, part_seq, part_type, text); standalone notes
    outside any affiliation get a null aff_id.
    """

    def fold_doc(doc_id: str, tag_texts) -> list:
        out = []
        next_aff = 0
        aff_id: Optional[str] = None
        aff_rows: List[Tuple[str, str]] = []
        aff_has_institution = False

        def flush():
            nonlocal aff_id, aff_rows, aff_has_institution
            if aff_id is not None:
                for seq, (pt, tx) in enumerate(aff_rows):
                    out.append((doc_id, aff_id, seq, pt, tx))
            aff_id, aff_rows, aff_has_institution = None, [], False

        for tag, text in tag_texts:
            if tag == "<marker>":
                flush()
                aff_id = f"aff{next_aff}"
                next_aff += 1
                aff_rows.append(("marker", text))
                continue
            part_type = AFF_PART_BY_TAG.get(tag, "note")
            prefix, cleaned, suffix = _clean_with_prefix_suffix(
                text, _COUNTRY_CLEAN_RE if tag == "<country>" else None
            )
            if part_type == "institution" and aff_has_institution:
                flush()
            if aff_id is None:
                if part_type == "note":
                    # preceding other text stays outside any affiliation
                    out.append((doc_id, None, 0, "note", text))
                    continue
                aff_id = f"aff{next_aff}"
                next_aff += 1
            if prefix:
                aff_rows.append((f"{part_type}-prefix", prefix))
            aff_rows.append((part_type, cleaned))
            if part_type == "institution":
                aff_has_institution = True
            if suffix:
                aff_rows.append((f"{part_type}-suffix", suffix))
        flush()
        return out

    return map_documents(
        entity_runs.select("doc_id", "entity_group", "tag", "text"),
        "doc_id",
        lambda doc_id, runs: fold_doc(doc_id, zip(runs["tag"], runs["text"])),
        AFF_PARTS_SCHEMA,
        order_by="entity_group",
    )


# ---------------------------------------------------------------------------
# reference-segmenter grammar (models/reference_segmenter/extract.py)
# ---------------------------------------------------------------------------

REF_SEGMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("content_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("part_type", StringType()),
        StructField("text", StringType()),
    ]
)


def extract_reference_segments(entity_runs: DataFrame) -> DataFrame:
    """Fold reference-segmenter runs into raw references with ids ``b0…``.

    ``<label>`` opens (or joins) a reference; ``<reference>`` closes it. A
    first un-labeled ``<reference>`` with ≤3 whitespace tokens becomes a
    ``heading`` (is_looks_like_reference, reference_segmenter/extract.py:20-22
    requires >3 tokens). Other tags become standalone notes.
    Output: (doc_id, content_id, seq, part_type, text) — part_type in
    {reference_label, raw_reference_text, heading, note}.
    """

    def fold_doc(doc_id: str, tag_texts) -> list:
        out = []
        seq = 0
        next_id = 0
        ref_rows: List[Tuple[str, str]] = []
        ref_open = False
        is_first_ref = True

        def emit(content_id, part_type, text):
            nonlocal seq
            out.append((doc_id, content_id, seq, part_type, text))
            seq += 1

        for tag, text in tag_texts:
            if tag == "<label>":
                if not ref_open:
                    ref_open = True
                    ref_rows = []
                ref_rows.append(("reference_label", text))
                continue
            if tag == "<reference>":
                if not ref_open and is_first_ref and len(text.split()) <= 3:
                    emit(None, "heading", text)
                    is_first_ref = False
                    continue
                if not ref_open:
                    ref_open = True
                    ref_rows = []
                ref_rows.append(("raw_reference_text", text))
                cid = f"b{next_id}"
                next_id += 1
                for pt, tx in ref_rows:
                    emit(cid, pt, tx)
                ref_open = False
                ref_rows = []
                is_first_ref = False
                continue
            emit(None, "note", text)
        if ref_open:
            cid = f"b{next_id}"
            for pt, tx in ref_rows:
                emit(cid, pt, tx)
        return out

    return map_documents(
        entity_runs.select("doc_id", "entity_group", "tag", "text"),
        "doc_id",
        lambda doc_id, runs: fold_doc(doc_id, zip(runs["tag"], runs["text"])),
        REF_SEGMENTS_SCHEMA,
        order_by="entity_group",
    )


__all__ = [
    "extract_names",
    "extract_affiliations",
    "extract_reference_segments",
    "NAME_PARTS_SCHEMA",
    "AFF_PARTS_SCHEMA",
    "REF_SEGMENTS_SCHEMA",
]
