"""ALTO XML → columnar token / graphics tables (SURVEY §2A A2).

Reference: sciencebeam_parser/external/pdfalto/parser.py:30-173 —
ALTO v3 namespace, ``Styles/TextStyle`` fonts joined to tokens via
``STYLEREFS`` (font_by_id_map, :154-162), pages → ``TextBlock`` →
``TextLine[String]`` → ``String`` tokens with HPOS/VPOS/WIDTH/HEIGHT,
``Illustration`` graphics, ``PHYSICAL_IMG_NR`` page numbers (1+index
fallback).

Spark mapping: ``spark.read.format("binaryFile")`` (or a path list) feeds a
``mapInPandas`` UDF that parses each XML with stdlib ElementTree and emits
token rows. The font map join happens inside the UDF (it's per-document
metadata, exactly the reference's in-parser map) — no shuffle. Surrogate
keys (doc_id, page_number, block_id, line_id, token_seq) are minted in
document order (SURVEY §1.4 — object identity does not survive
serialization).

Scale: one XML document per input row; parallelism = number of files.
Parsing is Python, but it's the unavoidable boundary (the reference shells
to pdfalto and parses with lxml single-threaded; here every executor core
parses a different document).
"""
from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from sciencebeam_parser_spark.schemas import (
    EMPTY_FONT_ID,
    GRAPHICS_SCHEMA,
    TOKENS_SCHEMA,
)

ALTO_NS = "{http://www.loc.gov/standards/alto/ns-v3#}"


def _parse_fonts(root) -> dict:
    fonts = {}
    for style in root.iter(f"{ALTO_NS}TextStyle"):
        styles = (style.get("FONTSTYLE") or "").split(" ")
        fonts[style.get("ID")] = {
            "font_id": style.get("ID"),
            "font_family": style.get("FONTFAMILY"),
            "font_size": float(style.get("FONTSIZE")) if style.get("FONTSIZE") else None,
            "is_bold": "bold" in styles,
            "is_italics": "italics" in styles,
            "is_subscript": "subscript" in styles,
            "is_superscript": "superscript" in styles,
        }
    return fonts


_TOKEN_COLS = [f.name for f in TOKENS_SCHEMA.fields]


def _append_alto_token_cols(doc_id: str, xml_bytes: bytes, out: dict) -> None:
    """Parse one ALTO document and append its token rows to `out`, one
    list per TOKENS_SCHEMA column, in the reference traversal order
    (parse_root): pages → TextBlock → TextLine (lines without a String are
    skipped) → String. Appending into per-column lists through bound-method
    locals is measurably cheaper than one dict per token when a batch holds
    hundreds of documents."""
    root = ET.fromstring(xml_bytes)
    font_tuples = {
        fid: (
            f["font_id"], f["font_family"], f["font_size"], f["is_bold"],
            f["is_italics"], f["is_subscript"], f["is_superscript"],
        )
        for fid, f in _parse_fonts(root).items()
    }
    empty_font = (EMPTY_FONT_ID, None, None, None, None, None, None)
    (a_doc, a_page, a_blk, a_line, a_seq, a_text, a_ws, a_fid, a_fam,
     a_fsz, a_bold, a_ital, a_sub, a_sup, a_x, a_y, a_w, a_h, a_pw,
     a_ph) = (out[c].append for c in _TOKEN_COLS)
    token_seq = 0
    block_id = 0
    line_id = 0
    for page_index, page in enumerate(root.iter(f"{ALTO_NS}Page")):
        page_number = int(page.get("PHYSICAL_IMG_NR") or (1 + page_index))
        page_width = float(page.get("WIDTH")) if page.get("WIDTH") else None
        page_height = float(page.get("HEIGHT")) if page.get("HEIGHT") else None
        for block in page.iter(f"{ALTO_NS}TextBlock"):
            block_id += 1
            for line in block.iter(f"{ALTO_NS}TextLine"):
                strings = list(line.iter(f"{ALTO_NS}String"))
                if not strings:
                    continue  # TextLine[alto:String] predicate (parser.py:89)
                line_id += 1
                for token_node in strings:
                    get = token_node.get
                    fid, fam, fsz, bold, ital, sub, sup = font_tuples.get(
                        get("STYLEREFS"), empty_font
                    )
                    a_doc(doc_id)
                    a_page(page_number)
                    a_blk(block_id)
                    a_line(line_id)
                    a_seq(token_seq)
                    a_text(get("CONTENT") or "")
                    a_ws(" ")
                    a_fid(fid)
                    a_fam(fam)
                    a_fsz(fsz)
                    a_bold(bold)
                    a_ital(ital)
                    a_sub(sub)
                    a_sup(sup)
                    a_x(float(get("HPOS", 0)))
                    a_y(float(get("VPOS", 0)))
                    a_w(float(get("WIDTH", 0)))
                    a_h(float(get("HEIGHT", 0)))
                    a_pw(page_width)
                    a_ph(page_height)
                    token_seq += 1


def iter_alto_graphic_rows(doc_id: str, xml_bytes: bytes) -> Iterator[dict]:
    root = ET.fromstring(xml_bytes)
    graphic_id = 0
    for page_index, page in enumerate(root.iter(f"{ALTO_NS}Page")):
        page_number = int(page.get("PHYSICAL_IMG_NR") or (1 + page_index))
        for g in page.iter(f"{ALTO_NS}Illustration"):
            yield {
                "doc_id": doc_id,
                "graphic_id": graphic_id,
                "page_number": page_number,
                "x": float(g.get("HPOS", 0)),
                "y": float(g.get("VPOS", 0)),
                "width": float(g.get("WIDTH", 0)),
                "height": float(g.get("HEIGHT", 0)),
                "graphic_type": g.get("TYPE"),
                "local_file_path": g.get("FILEID"),
                "content": None,
            }
            graphic_id += 1


def _doc_id_for_path(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def read_alto_tokens(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """binaryFile scan → mapInPandas ALTO parse → F1 tokens DataFrame."""
    binary = spark.read.format("binaryFile").load(paths)

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # accumulate across documents: ONE pandas frame / Arrow batch
            # per input batch, not one per document; columnar lists beat
            # dict-per-token row building
            data = {c: [] for c in _TOKEN_COLS}
            for path_, content in zip(pdf["path"], pdf["content"]):
                _append_alto_token_cols(_doc_id_for_path(path_), content, data)
            if data["doc_id"]:
                yield pd.DataFrame(data, columns=_TOKEN_COLS)

    return binary.select("path", "content").mapInPandas(parse, schema=TOKENS_SCHEMA)


def read_alto_graphics(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    binary = spark.read.format("binaryFile").load(paths)

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in GRAPHICS_SCHEMA.fields]
        for pdf in batches:
            rows: list = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows.extend(iter_alto_graphic_rows(_doc_id_for_path(path_), content))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return binary.select("path", "content").mapInPandas(parse, schema=GRAPHICS_SCHEMA)


def parse_alto_tokens_df(
    df: DataFrame, *, id_col: str = "doc_id", xml_col: str = "xml"
) -> DataFrame:
    """(doc_id, xml string) relation → F1 tokens — the same mapInPandas
    kernel as read_alto_tokens without the binaryFile scan, for pipelines
    whose ALTO payloads already sit in a column (e.g. a table of pdfalto
    outputs)."""

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            data = {c: [] for c in _TOKEN_COLS}
            for doc_id, xml in zip(pdf[id_col], pdf[xml_col]):
                # accepts string XML or already-encoded bytes (e.g. the
                # pdfalto sidecar emits binary payloads)
                raw = xml if isinstance(xml, (bytes, bytearray)) else xml.encode("utf-8")
                _append_alto_token_cols(str(doc_id), bytes(raw), data)
            if data["doc_id"]:
                yield pd.DataFrame(data, columns=_TOKEN_COLS)

    return df.select(id_col, xml_col).mapInPandas(parse, schema=TOKENS_SCHEMA)


def parse_alto_graphics_df(
    df: DataFrame, *, id_col: str = "doc_id", xml_col: str = "xml"
) -> DataFrame:
    """(doc_id, xml string) relation → graphics rows (Illustration
    elements) — the graphics half of the A2 source without the binaryFile
    scan."""

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in GRAPHICS_SCHEMA.fields]
        for pdf in batches:
            rows: list = []
            for doc_id, xml in zip(pdf[id_col], pdf[xml_col]):
                raw = xml if isinstance(xml, (bytes, bytearray)) else xml.encode("utf-8")
                rows.extend(
                    iter_alto_graphic_rows(str(doc_id), bytes(raw))
                )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, xml_col).mapInPandas(parse, schema=GRAPHICS_SCHEMA)
