"""TEI XML sink (SURVEY §2A A29).

Reference: document/tei_document.py:47-165 (get_tei_for_semantic_document)
+ document/tei/* — the semantic tree serializes to TEI with
teiHeader/fileDesc/titleStmt/title, profileDesc/abstract, text/body divs
(head/p), and back/div[@type=references]/listBibl/biblStruct; unknown
content becomes notes (tei/common.py).

Spark mapping: ``utils.map_documents`` runs ``_build_tei`` once per doc_id,
assembling the XML string with stdlib ElementTree (write-once tree, like the reference's
lxml build). The output relation (doc_id, tei_xml) feeds
``df.write.text``/partitioned sinks; ZIP/asset bundling would be a
``foreachPartition`` writer.
"""
from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sciencebeam_parser_spark.utils import map_documents

TEI_NS = "http://www.tei-c.org/ns/1.0"

TEI_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tei_xml", T.StringType()),
    ]
)


def _set_styled_content(el: ET.Element, runs) -> None:
    """Style-run assembly (tei/common.py:61-85 get_required_styles +
    get_element_for_styles): each run is {'styles': [...], 'text': ...};
    plain runs become text/tails, styled runs nested <hi rend=...>
    elements (outermost = first style). Consecutive same-style tokens
    arrive pre-merged into one run (the reference merges them the same
    way while iterating the layout block)."""
    el.text = ""
    last_child = None
    first = True
    for run in runs:
        # Arrow hands struct fields back as numpy arrays — normalize
        raw_styles = run["styles"]
        styles = [] if raw_styles is None else list(raw_styles)
        text = run["text"] or ""
        if not first:
            text = " " + text if not styles else text
        if not styles:
            if last_child is None:
                el.text = (el.text or "") + text
            else:
                last_child.tail = (last_child.tail or "") + text
        else:
            if not first:
                # whitespace between runs stays OUTSIDE the hi element
                if last_child is None:
                    el.text = (el.text or "") + " "
                else:
                    last_child.tail = (last_child.tail or "") + " "
            node = None
            for style in reversed(styles):
                inner = node
                node = ET.Element(f"{{{TEI_NS}}}hi")
                node.set("rend", style)
                if inner is None:
                    node.text = text
                else:
                    node.append(inner)
            el.append(node)
            last_child = node
        first = False


def _build_structured_biblstruct(parent: ET.Element, r) -> ET.Element:
    """Structured reference (tei/references.py:52-110
    get_tei_reference_element + the factories' parent paths,
    tei/factories.py:140-152): parsed citation fields land under
    analytic / monogr / monogr/imprint, created on demand; the raw
    reference text stays as note[@type=raw_reference].

    ``r.ref_fields``: ordered array of {field_type, text} runs from the
    per-reference citation parse. Mapping (SIMPLE_TAG_EXPRESSION /
    PARENT_PATH tables): title → analytic/title[level=a type=main];
    external_identifier → analytic/idno; journal → monogr/title[level=j];
    publisher → monogr/imprint/publisher; volume/issue →
    monogr/imprint/biblScope[@unit=...] (factories.py:126-127, parent
    paths :146-147); date → monogr/imprint/date with @type=published on
    the FIRST date only and @when from the text
    (tei/references.py:92-104)."""
    bibl = ET.SubElement(parent, f"{{{TEI_NS}}}biblStruct")
    paths: dict = {}
    is_first_date = True

    def get_or_create(path: tuple) -> ET.Element:
        if not path:
            return bibl
        if path not in paths:
            paths[path] = ET.SubElement(
                get_or_create(path[:-1]), f"{{{TEI_NS}}}{path[-1]}"
            )
        return paths[path]

    for fld in r.ref_fields:
        ftype, text = fld["field_type"], fld["text"]
        if ftype == "title":
            el = ET.SubElement(
                get_or_create(("analytic",)), f"{{{TEI_NS}}}title"
            )
            el.set("level", "a")
            el.set("type", "main")
            el.text = text
        elif ftype == "external_identifier":
            el = ET.SubElement(
                get_or_create(("analytic",)), f"{{{TEI_NS}}}idno"
            )
            el.text = text
        elif ftype == "journal":
            el = ET.SubElement(
                get_or_create(("monogr",)), f"{{{TEI_NS}}}title"
            )
            el.set("level", "j")
            el.text = text
        elif ftype == "publisher":
            el = ET.SubElement(
                get_or_create(("monogr", "imprint")),
                f"{{{TEI_NS}}}publisher",
            )
            el.text = text
        elif ftype in ("volume", "issue"):
            el = ET.SubElement(
                get_or_create(("monogr", "imprint")),
                f"{{{TEI_NS}}}biblScope",
            )
            el.set("unit", ftype)
            el.text = text
        elif ftype == "date":
            el = ET.SubElement(
                get_or_create(("monogr", "imprint")), f"{{{TEI_NS}}}date"
            )
            if is_first_date:
                el.set("type", "published")
            if text:
                el.set("when", text)
            el.text = text
            is_first_date = False
        elif ftype == "page_range":
            # biblScope[@unit=page] (tei/page_range.py:16-37): from/to
            # attributes when the range parses, plain text otherwise
            el = ET.SubElement(
                get_or_create(("monogr", "imprint")),
                f"{{{TEI_NS}}}biblScope",
            )
            el.set("unit", "page")
            parts = text.split("-", 1)
            if len(parts) == 2 and parts[0] and parts[1]:
                el.set("from", parts[0])
                el.set("to", parts[1])
            else:
                el.text = text
        else:
            note = ET.SubElement(bibl, f"{{{TEI_NS}}}note")
            note.set("type", ftype)
            note.text = text
    raw = ET.SubElement(bibl, f"{{{TEI_NS}}}note")
    raw.set("type", "raw_reference")
    raw.text = r.text
    return bibl


def _build_persname_author(analytic: ET.Element, text: str) -> None:
    """author/persName with forename+surname (tei/author.py:99-130
    get_tei_author_for_semantic_author_element; part mapping
    tei/factories.py:109-111: given name → forename[@type=first],
    surname → surname). The mock name fold is the q89 greedy split:
    first token = given name, remaining tokens = surname."""
    author = ET.SubElement(analytic, f"{{{TEI_NS}}}author")
    pers = ET.SubElement(author, f"{{{TEI_NS}}}persName")
    parts = (text or "").split()
    if parts:
        fn = ET.SubElement(pers, f"{{{TEI_NS}}}forename")
        fn.set("type", "first")
        fn.text = parts[0]
    if len(parts) > 1:
        ET.SubElement(pers, f"{{{TEI_NS}}}surname").text = " ".join(parts[1:])


def _build_tei(entities: pd.DataFrame) -> str:
    # deterministic multi-key sort: entities tied on token_start (e.g.
    # citation + ref-segmenter runs over the same tokens) must serialize
    # in a fixed order regardless of post-shuffle row order — pandas'
    # default quicksort is unstable, so tie-break on the document-order
    # seq and the unique entity_id where present (unit-test fixtures may
    # carry a reduced column set)
    sort_keys = [
        c for c in ("token_start", "seq", "entity_id") if c in entities.columns
    ]
    ents = entities.sort_values(sort_keys, kind="stable")
    ET.register_namespace("", TEI_NS)
    tei = ET.Element(f"{{{TEI_NS}}}TEI")
    header = ET.SubElement(tei, f"{{{TEI_NS}}}teiHeader")
    file_desc = ET.SubElement(header, f"{{{TEI_NS}}}fileDesc")
    title_stmt = ET.SubElement(file_desc, f"{{{TEI_NS}}}titleStmt")
    profile_desc = ET.SubElement(header, f"{{{TEI_NS}}}profileDesc")
    text_el = ET.SubElement(tei, f"{{{TEI_NS}}}text")
    body = ET.SubElement(text_el, f"{{{TEI_NS}}}body")
    back = ET.SubElement(text_el, f"{{{TEI_NS}}}back")
    ref_div = None
    current_div = None
    # back sections (tei_document.py:133-141 + tei/document.py:122-129):
    # acknowledgement sections land under back/div[@type=acknowledgement],
    # everything else annex-like under back/div[@type=annex]; each heading
    # opens a nested div (the GROBID-compatible shape the tei-to-jats
    # stylesheet's back template expects: typed outer div > section divs)
    back_typed_div: dict = {}
    back_current_div: dict = {}

    def get_back_typed_div(region: str) -> ET.Element:
        if region not in back_typed_div:
            d = ET.SubElement(back, f"{{{TEI_NS}}}div")
            d.set("type", region)
            back_typed_div[region] = d
        return back_typed_div[region]

    last_formula = None  # open formula for a following equation_label
    analytic = None  # sourceDesc/biblStruct/analytic, created on demand
    # (marker_text → affiliations) per tei_document.py:68-75; the mock
    # vocabulary yields no markers, so every affiliation keys to '' and
    # flows down the orphan path (get_orphan_affiliations → dummy author)
    orphan_affiliations: list = []

    def get_analytic() -> ET.Element:
        nonlocal analytic
        if analytic is None:
            source_desc = ET.SubElement(file_desc, f"{{{TEI_NS}}}sourceDesc")
            bibl = ET.SubElement(source_desc, f"{{{TEI_NS}}}biblStruct")
            analytic = ET.SubElement(bibl, f"{{{TEI_NS}}}analytic")
        return analytic

    def set_coords(el, r) -> None:
        # layout coordinates → @coords (tei/common.py:87-113
        # format_coordinates_list via get_default_attributes_for_layout_
        # block); attached where the reference does: title, figure,
        # biblStruct. The entities relation carries the pre-formatted
        # 'page,x,y,w,h[;...]' string in an optional `coords` column.
        coords = getattr(r, "coords", None)
        if coords is not None and not pd.isna(coords):
            el.set("coords", coords)

    for r in ents.itertuples():
        etype = r.entity_type
        region = getattr(r, "region", None)
        if etype == "raw_authors" and region == "front":
            # header-model author → SemanticAuthor → analytic/author
            # (tei_document.py:77-89)
            _build_persname_author(get_analytic(), r.text)
            continue
        if etype == "raw_affiliation" and region == "front":
            orphan_affiliations.append(r)
            continue
        if etype == "title":
            el = ET.SubElement(title_stmt, f"{{{TEI_NS}}}title")
            el.set("level", "a")
            el.set("type", "main")
            set_coords(el, r)
            runs = getattr(r, "style_runs", None)
            if runs is not None and len(runs):
                _set_styled_content(el, runs)
            else:
                el.text = r.text
        elif etype == "abstract":
            ab = ET.SubElement(profile_desc, f"{{{TEI_NS}}}abstract")
            p = ET.SubElement(ab, f"{{{TEI_NS}}}p")
            p.text = (
                r.clean_abstract
                if "clean_abstract" in entities.columns and r.clean_abstract
                else r.text
            )
        elif etype == "heading":
            if region in ("acknowledgement", "annex"):
                outer = get_back_typed_div(region)
                sec = ET.SubElement(outer, f"{{{TEI_NS}}}div")
                back_current_div[region] = sec
                ET.SubElement(sec, f"{{{TEI_NS}}}head").text = r.text
                continue
            current_div = ET.SubElement(body, f"{{{TEI_NS}}}div")
            head = ET.SubElement(current_div, f"{{{TEI_NS}}}head")
            if "section_label" in entities.columns and r.section_label:
                head.set("n", r.section_label)
            head.text = r.text
        elif etype == "paragraph":
            if region in ("acknowledgement", "annex"):
                sec = back_current_div.get(region)
                if sec is None:
                    sec = ET.SubElement(
                        get_back_typed_div(region), f"{{{TEI_NS}}}div"
                    )
                    back_current_div[region] = sec
                ET.SubElement(sec, f"{{{TEI_NS}}}p").text = r.text
                continue
            parent = current_div if current_div is not None else body
            p = ET.SubElement(parent, f"{{{TEI_NS}}}p")
            runs = getattr(r, "style_runs", None)
            if runs is not None and len(runs):
                _set_styled_content(p, runs)
            else:
                p.text = r.text
        elif etype in ("raw_figure", "raw_table"):
            fig = ET.SubElement(body, f"{{{TEI_NS}}}figure")
            if etype == "raw_table":
                fig.set("type", "table")
            set_coords(fig, r)
            if r.content_id:
                fig.set("{http://www.w3.org/XML/1998/namespace}id", r.content_id)
            # parsed figure/table sub-model fields (tei/figure_table.py:
            # 24-60): a label emits BOTH head and label elements; the
            # caption becomes figDesc; without parsed fields the raw text
            # stays a bare figDesc
            fig_label = getattr(r, "fig_label", None)
            fig_caption = getattr(r, "fig_caption", None)
            if fig_label is not None and not pd.isna(fig_label):
                ET.SubElement(fig, f"{{{TEI_NS}}}head").text = fig_label
                ET.SubElement(fig, f"{{{TEI_NS}}}label").text = fig_label
            if fig_caption is not None and not pd.isna(fig_caption):
                ET.SubElement(fig, f"{{{TEI_NS}}}figDesc").text = fig_caption
            elif fig_label is None or pd.isna(fig_label):
                ET.SubElement(fig, f"{{{TEI_NS}}}figDesc").text = r.text
            # matched layout graphics → graphic children with coords/type/
            # url attributes (tei/graphic.py:22-46)
            graphics = getattr(r, "graphics", None)
            if graphics is not None and len(graphics):
                for g in graphics:
                    g_el = ET.SubElement(fig, f"{{{TEI_NS}}}graphic")
                    if g.get("url"):
                        g_el.set("url", g["url"])
                    if g.get("coords"):
                        g_el.set("coords", g["coords"])
                    if g.get("graphic_type"):
                        g_el.set("type", g["graphic_type"])
        elif etype == "raw_reference_text":
            if ref_div is None:
                ref_div = ET.SubElement(back, f"{{{TEI_NS}}}div")
                ref_div.set("type", "references")
                ref_div = ET.SubElement(ref_div, f"{{{TEI_NS}}}listBibl")
            fields = getattr(r, "ref_fields", None)
            if fields is not None and len(fields):
                bibl = _build_structured_biblstruct(ref_div, r)
            else:
                bibl = ET.SubElement(ref_div, f"{{{TEI_NS}}}biblStruct")
                ET.SubElement(bibl, f"{{{TEI_NS}}}note").text = r.text
            set_coords(bibl, r)
            if r.content_id:
                bibl.set("{http://www.w3.org/XML/1998/namespace}id", r.content_id)
        elif etype in ("reference_citation", "figure_citation", "table_citation"):
            parent = current_div if current_div is not None else body
            ref = ET.SubElement(parent, f"{{{TEI_NS}}}ref")
            ref.set(
                "type",
                {"reference_citation": "bibr", "figure_citation": "figure",
                 "table_citation": "table"}[etype],
            )
            target = getattr(r, "target_content_id", None)
            if target:
                ref.set("target", "#" + target)
            ref.text = r.text
        elif etype == "equation":
            # raw equation → formula (tei/equation.py:26-52)
            parent = current_div if current_div is not None else body
            last_formula = ET.SubElement(parent, f"{{{TEI_NS}}}formula")
            last_formula.text = r.text
        elif etype == "equation_label" and last_formula is not None:
            # the equation's label nests inside the formula
            # (SemanticLabel inside SemanticRawEquation)
            ET.SubElement(last_formula, f"{{{TEI_NS}}}label").text = r.text
        else:
            # unknown content → note (document/tei/common.py)
            note = ET.SubElement(body, f"{{{TEI_NS}}}note")
            note.set("type", etype)
            note.text = r.text

    if orphan_affiliations:
        # affiliations with no author marker → one dummy author
        # (tei/author.py:135-151 get_dummy_tei_author_for_semantic_
        # affiliations_element + tei_document.py:100-112)
        dummy = ET.SubElement(get_analytic(), f"{{{TEI_NS}}}author")
        d_note = ET.SubElement(dummy, f"{{{TEI_NS}}}note")
        d_note.set("type", "dummy_author")
        d_note.text = "Dummy author for orphan affiliations"
        for r in orphan_affiliations:
            aff = ET.SubElement(dummy, f"{{{TEI_NS}}}affiliation")
            if getattr(r, "content_id", None):
                # content id → @key (tei/author.py:68-73)
                aff.set("key", r.content_id)
            raw = ET.SubElement(aff, f"{{{TEI_NS}}}note")
            raw.set("type", "raw_affiliation")
            raw.text = r.text
    return ET.tostring(tei, encoding="unicode")


def entities_to_tei(entities: DataFrame) -> DataFrame:
    """entities relation → (doc_id, tei_xml), one TEI document per doc."""
    return map_documents(
        entities,
        "doc_id",
        lambda doc_id, doc: [(doc_id, _build_tei(doc))],
        TEI_OUT_SCHEMA,
    )
