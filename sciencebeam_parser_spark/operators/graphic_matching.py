"""Graphic ↔ figure/table matching and page pruning (SURVEY §2A A21/A22/A26).

Reference: sciencebeam_parser/processors/graphic_matching.py and
graphic_provider.py. Semantics reproduced:

* Normalized boxes (graphic_matching.py:215-229): x/page_w,
  y/page_h + page_number (page offset baked into y), w/page_w, h/page_h.
* Gap distance (:112-136): delta_x/delta_y are the horizontal/vertical gaps
  (0 when overlapping), euclidean sqrt(dx²+dy²); accept < max_distance
  (DEFAULT_MAX_GRAPHIC_DISTANCE = 0.3, :28).
* Assignment (:400-460): rounds — each unmatched graphic proposes its
  nearest candidate; per candidate the closest proposer wins; losers retry
  next round against candidates whose box lists were extended with the
  matched graphics' boxes; stops when a round matches nothing.
* 'svg' graphics are ignored (:466-469).

Spark mapping: distance + single-round nearest is pure SQL (partition-
bounded join + row_number) — that's ``nearest_candidate_match`` and what
scales to 100 TB (join key = doc_id; per-doc candidate counts are tiny).
The multi-round extension loop is inherently sequential *within a doc*, so
``match_graphics`` runs it as a cogrouped-map pandas UDF per doc_id —
distributed across docs, exact reference loop inside.
"""
from __future__ import annotations

import math
from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_MAX_GRAPHIC_DISTANCE = 0.3


def gap_distance(
    x1: Column, y1: Column, w1: Column, h1: Column,
    x2: Column, y2: Column, w2: Column, h2: Column,
) -> Column:
    """get_bounding_box_distance (graphic_matching.py:112-136)."""
    dx = F.greatest(F.lit(0.0), x2 - (x1 + w1), x1 - (x2 + w2))
    dy = F.greatest(F.lit(0.0), y2 - (y1 + h1), y1 - (y2 + h2))
    return F.sqrt(dx * dx + dy * dy)


def nearest_candidate_match(
    graphics: DataFrame,
    candidates: DataFrame,
    *,
    max_distance: float = DEFAULT_MAX_GRAPHIC_DISTANCE,
) -> DataFrame:
    """Single-round nearest assignment (the first batch of the reference
    loop): graphic → nearest candidate under threshold, then per candidate
    keep the closest graphic. Inputs carry normalized nx/ny/nw/nh.

    graphics: (doc_id, graphic_id, graphic_type, nx, ny, nw, nh)
    candidates: (doc_id, content_id, nx, ny, nw, nh)
    Returns (doc_id, graphic_id, content_id, distance).
    """
    g = graphics.filter(
        (F.col("graphic_type").isNull() | (F.col("graphic_type") != "svg"))
        & F.col("nx").isNotNull()
    ).alias("g")
    c = candidates.alias("c")
    dist = gap_distance(
        F.col("g.nx"), F.col("g.ny"), F.col("g.nw"), F.col("g.nh"),
        F.col("c.nx"), F.col("c.ny"), F.col("c.nw"), F.col("c.nh"),
    )
    pairs = (
        g.join(c, F.col("g.doc_id") == F.col("c.doc_id"))
        .select(
            F.col("g.doc_id").alias("doc_id"),
            F.col("g.graphic_id").alias("graphic_id"),
            F.col("c.content_id").alias("content_id"),
            dist.alias("distance"),
        )
        .filter(F.col("distance") < max_distance)
    )
    w_g = W.partitionBy("doc_id", "graphic_id").orderBy(
        F.asc("distance"), F.asc("content_id")
    )
    best_per_graphic = pairs.withColumn("_rn", F.row_number().over(w_g)).filter(
        F.col("_rn") == 1
    )
    w_c = W.partitionBy("doc_id", "content_id").orderBy(
        F.asc("distance"), F.asc("graphic_id")
    )
    return (
        best_per_graphic.withColumn("_rc", F.row_number().over(w_c))
        .filter(F.col("_rc") == 1)
        .select("doc_id", "graphic_id", "content_id", F.round("distance", 6).alias("distance"))
    )


_MATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("graphic_id", T.IntegerType()),
        T.StructField("content_id", T.StringType()),
        T.StructField("distance", T.DoubleType()),
    ]
)


def _box_distance(b1: tuple, b2: tuple) -> float:
    x1, y1, w1, h1 = b1
    x2, y2, w2, h2 = b2
    dx = max(0.0, x2 - (x1 + w1), x1 - (x2 + w2))
    dy = max(0.0, y2 - (y1 + h1), y1 - (y2 + h2))
    return math.sqrt(dx * dx + dy * dy)


def _match_doc(
    graphics: pd.DataFrame, candidates: pd.DataFrame, max_distance: float
) -> Iterable[tuple]:
    """Exact reference loop (graphic_matching.py:400-460) for one document."""
    g_boxes = {
        int(r.graphic_id): [(r.nx, r.ny, r.nw, r.nh)]
        for r in graphics.itertuples()
        if r.graphic_type != "svg" and not pd.isna(r.nx)
    }
    c_boxes = {
        str(r.content_id): [(r.nx, r.ny, r.nw, r.nh)] for r in candidates.itertuples()
    }
    doc_id = graphics["doc_id"].iloc[0] if len(graphics) else None
    remaining = sorted(g_boxes)
    while remaining:
        best_by_candidate: dict[str, tuple] = {}
        for gid in remaining:
            dists = sorted(
                (
                    min(
                        _box_distance(gb, cb)
                        for gb in g_boxes[gid]
                        for cb in c_boxes[cid]
                    ),
                    cid,
                )
                for cid in c_boxes
            )
            if not dists:
                break
            best_d, best_cid = dists[0]
            if best_d >= max_distance:
                continue
            prev = best_by_candidate.get(best_cid)
            if prev is not None and prev[0] <= best_d:
                continue
            best_by_candidate[best_cid] = (best_d, gid)
        if not best_by_candidate:
            break
        matched = set()
        for cid, (d, gid) in sorted(best_by_candidate.items()):
            yield (doc_id, gid, cid, d)
            matched.add(gid)
            # extend candidate box list with the matched graphic's boxes
            c_boxes[cid] = list(c_boxes[cid]) + list(g_boxes[gid])
        remaining = [gid for gid in remaining if gid not in matched]


def match_graphics(
    graphics: DataFrame,
    candidates: DataFrame,
    *,
    max_distance: float = DEFAULT_MAX_GRAPHIC_DISTANCE,
) -> DataFrame:
    """Full multi-round matcher, distributed per doc_id (cogrouped map)."""
    max_d = float(max_distance)

    def fn(g_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if g_pdf.empty or c_pdf.empty:
            return pd.DataFrame(columns=[f.name for f in _MATCH_SCHEMA.fields])
        rows = list(_match_doc(g_pdf, c_pdf, max_d))
        return pd.DataFrame(
            rows, columns=["doc_id", "graphic_id", "content_id", "distance"]
        )

    return (
        graphics.groupBy("doc_id")
        .cogroup(candidates.groupBy("doc_id"))
        .applyInPandas(fn, schema=_MATCH_SCHEMA)
    )


# ---------------------------------------------------------------------------
# A22 — page pruning (graphic_provider.py:78-163)
# ---------------------------------------------------------------------------


def pages_with_uncommon_dimensions(pages: DataFrame) -> DataFrame:
    """get_page_numbers_with_uncommon_page_dimension (:95-116): pages whose
    (width, height) differ from the document's most-common dimension; empty
    when a doc has <2 distinct dimensions. Mode = groupBy+count, top-1 with
    deterministic tie-break."""
    dims = pages.filter(F.col("page_width").isNotNull()).groupBy(
        "doc_id", "page_width", "page_height"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("doc_id").orderBy(
        F.desc("n"), F.asc("page_width"), F.asc("page_height")
    )
    mode = (
        dims.select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(W.partitionBy("doc_id")).alias("_n_dims"),
        )
        .filter((F.col("_rn") == 1) & (F.col("_n_dims") >= 2))
        .select("doc_id", F.col("page_width").alias("_mw"), F.col("page_height").alias("_mh"))
    )
    return (
        pages.join(mode, "doc_id")
        .filter(
            (F.col("page_width") != F.col("_mw"))
            | (F.col("page_height") != F.col("_mh"))
        )
        .select("doc_id", "page_number")
    )


def pages_with_mostly_bitmap_graphics(
    pages: DataFrame, graphics: DataFrame
) -> DataFrame:
    """is_page_with_mostly_bitmap_graphics (:119-149): any non-svg graphic
    covering > 0.5 of the page area."""
    g = graphics.filter(
        (F.col("graphic_type").isNull() | (F.col("graphic_type") != "svg"))
        & F.col("x").isNotNull()
    )
    joined = g.join(
        pages.select("doc_id", "page_number", "page_width", "page_height"),
        ["doc_id", "page_number"],
    )
    return (
        joined.filter(
            (F.col("width") * F.col("height"))
            / (F.col("page_width") * F.col("page_height"))
            > 0.5
        )
        .select("doc_id", "page_number")
        .distinct()
    )


def cv_candidate_pages(pages: DataFrame, graphics: DataFrame) -> DataFrame:
    """processor.py:300-317: uncommon-dimension pages MINUS mostly-bitmap
    pages (set difference → anti-join)."""
    return pages_with_uncommon_dimensions(pages).join(
        pages_with_mostly_bitmap_graphics(pages, graphics),
        ["doc_id", "page_number"],
        "left_anti",
    )


def with_successor_pages(candidate_pages: DataFrame, pages: DataFrame) -> DataFrame:
    """get_graphic_matching_candidate_page_numbers_for_semantic_content_list
    (:78-93): candidates ∪ {p+1 | p candidate, p+1 exists} — union +
    semi-join."""
    successors = (
        candidate_pages.select(
            "doc_id", (F.col("page_number") + 1).alias("page_number")
        )
        .join(
            pages.select("doc_id", "page_number"), ["doc_id", "page_number"], "left_semi"
        )
    )
    return candidate_pages.unionByName(successors).distinct()


def mask_tokens_by_boxes(tokens: DataFrame, boxes: DataFrame) -> DataFrame:
    """A26 — remove tokens inside graphic boxes
    (graphic_provider.py:165-238): anti-join on containment (token bbox
    fully within the graphic bbox, same doc+page)."""
    t = tokens.alias("t")
    b = boxes.alias("b")
    contained = (
        (F.col("t.x") >= F.col("b.x"))
        & (F.col("t.y") >= F.col("b.y"))
        & (F.col("t.x") + F.col("t.width") <= F.col("b.x") + F.col("b.width"))
        & (F.col("t.y") + F.col("t.height") <= F.col("b.y") + F.col("b.height"))
    )
    return t.join(
        b,
        (F.col("t.doc_id") == F.col("b.doc_id"))
        & (F.col("t.page_number") == F.col("b.page_number"))
        & contained,
        "left_anti",
    )


# ---------------------------------------------------------------------------
# CV-box dedup vs existing graphics (SURVEY §2A A24) and merged-bbox agg
# ---------------------------------------------------------------------------

def intersection_area_ratio(
    x1: Column, y1: Column, w1: Column, h1: Column,
    x2: Column, y2: Column, w2: Column, h2: Column,
) -> Column:
    """get_bounding_box_intersection_area_ratio
    (processors/cv_graphic_provider.py:38-48): intersection area divided by
    the LARGER of the two areas (0.0 when both are empty)."""
    ix = F.greatest(
        F.lit(0.0), F.least(x1 + w1, x2 + w2) - F.greatest(x1, x2)
    )
    iy = F.greatest(
        F.lit(0.0), F.least(y1 + h1, y2 + h2) - F.greatest(y1, y2)
    )
    max_area = F.greatest(w1 * h1, w2 * h2)
    return F.when(max_area == 0.0, F.lit(0.0)).otherwise(ix * iy / max_area)


def dedup_cv_boxes(
    cv_boxes: DataFrame,
    existing_graphics: DataFrame,
    *,
    threshold: float = 0.80,
    ignored_graphic_types: tuple = (),
) -> DataFrame:
    """Drop CV-detected boxes that overlap an existing graphic on the same
    page with intersection-area ratio ≥ threshold
    (get_layout_graphic_with_similar_coordinates,
    cv_graphic_provider.py:50-66; applied threshold 0.80).

    cv_boxes / existing_graphics: (doc_id, page_number, x, y, width, height
    [, graphic_type]). Returns the cv_boxes rows with no such overlap —
    a (doc_id, page_number)-keyed join followed by an anti-join, so at scale
    the only shuffle is on the page key and per-page box counts stay tiny.
    """
    ex = existing_graphics
    if ignored_graphic_types and "graphic_type" in ex.columns:
        ex = ex.filter(~F.col("graphic_type").isin(*ignored_graphic_types))
    ex = ex.select(
        "doc_id", "page_number",
        F.col("x").alias("_ex_x"), F.col("y").alias("_ex_y"),
        F.col("width").alias("_ex_w"), F.col("height").alias("_ex_h"),
    )
    ratio = intersection_area_ratio(
        F.col("x"), F.col("y"), F.col("width"), F.col("height"),
        F.col("_ex_x"), F.col("_ex_y"), F.col("_ex_w"), F.col("_ex_h"),
    )
    dup_keys = (
        cv_boxes.join(ex, ["doc_id", "page_number"])
        .filter(ratio >= threshold)
        .select("doc_id", "page_number", "x", "y", "width", "height")
        .distinct()
    )
    return cv_boxes.join(
        dup_keys, ["doc_id", "page_number", "x", "y", "width", "height"],
        "left_anti",
    )


def merged_bbox_agg(df: DataFrame, *group_cols: str) -> DataFrame:
    """Merge all boxes per group into their bounding envelope —
    LayoutPageCoordinates.get_merged_with (document/layout_document.py:65-77)
    folded over a group (the reference merges pairwise in a loop; min/max
    aggregation is the associative closed form). Pure map-side-combinable
    aggregate: safe at any scale."""
    return df.groupBy(*group_cols).agg(
        F.min("x").alias("x"),
        F.min("y").alias("y"),
        (F.max(F.col("x") + F.col("width")) - F.min("x")).alias("width"),
        (F.max(F.col("y") + F.col("height")) - F.min("y")).alias("height"),
        F.count("*").cast("long").alias("n_boxes"),
    )


def chain_graphic_matchers(graphics: DataFrame, stages) -> DataFrame:
    """A21's matcher chain (graphic_matching.py:54-94
    ``ChainedGraphicMatcher``): each stage sees only the graphics every
    earlier stage failed to match, and its matches are tagged with the
    stage name.

    ``stages``: sequence of (name, fn) where fn(remaining_graphics) returns
    (doc_id, graphic_id, content_id). The remainder is an anti-join on the
    accumulated matches — at scale each round is one equi-anti-join keyed
    on (doc_id, graphic_id), and the chain length is a small constant (the
    reference chains 3 matchers).

    Each non-final stage's match relation is localCheckpoint(eager=False)-ed
    before it is consumed: without that, stage N's plan embeds every earlier
    stage's FULL subtree (stage N-1's matches appear both in the final union
    and inside stage N's anti-joined remainder), so the chain re-plans and
    re-executes earlier matchers ~2^k times — measured on q132 as 14 scans
    of the same base table and 72 Window nodes in one plan. The checkpointed
    relation is a few rows per doc (the matches), computed once per session;
    no cross-run persistence.
    """
    matched = None
    remaining = graphics
    last = len(stages) - 1
    for i, (name, fn) in enumerate(stages):
        m = fn(remaining).select(
            "doc_id", "graphic_id", "content_id",
            F.lit(name).alias("match_stage"),
        )
        if i < last:
            # consumed twice (union + next stage's anti-join): truncate the
            # lineage so the matcher subtree executes once
            m = m.localCheckpoint(eager=False)
        matched = m if matched is None else matched.unionByName(m)
        remaining = remaining.join(
            m.select("doc_id", "graphic_id"),
            ["doc_id", "graphic_id"],
            "left_anti",
        )
    return matched


def match_graphics_by_text(
    graphic_texts: DataFrame,
    candidates: DataFrame,
    *,
    text_col: str = "ocr_text",
    label_col: str = "label_text",
    prefix_length: int = 3,
) -> DataFrame:
    """AbstractGraphicTextGraphicMatcher.get_graphic_matches
    (processors/graphic_matching.py:497-553): each graphic's text is tried
    LINE BY LINE against a SimpleContentIdMatcher over the candidate label
    texts (prefix_length=3) — the FIRST line with any match wins, exact
    normalized key beating the token-prefix key, and key collisions keep
    the last candidate ({key: id} dict overwrite).

    graphic_texts: (doc_id, graphic_id, <text_col>);
    candidates: (doc_id, content_id, <label_col>).
    Returns (doc_id, graphic_id, content_id).

    Relational shape: explode text into (line_idx, line), stack both key
    priorities, equi-join on (doc_id, prio, key), then one window picks
    (min line_idx, min prio) per graphic — at scale this is an equi-join
    on normalized keys exactly like the citation matcher's stage 1+2.
    """
    from sciencebeam_parser_spark.operators.ref_matching import (
        normalized_key,
        token_prefix_key,
    )

    lines = graphic_texts.select(
        "doc_id",
        "graphic_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    ).filter(F.trim("line") != "")

    def stacked(df: DataFrame, col: str) -> DataFrame:
        keys = F.array(
            F.struct(
                F.lit(1).alias("_prio"),
                normalized_key(F.col(col)).alias("_key"),
            ),
            F.struct(
                F.lit(2).alias("_prio"),
                token_prefix_key(F.col(col), prefix_length).alias("_key"),
            ),
        )
        return (
            df.select("*", F.explode(keys).alias("_pk"))
            .select("*", "_pk._prio", "_pk._key")
            .drop("_pk")
            .filter(F.length("_key") > 0)
        )

    # key-collision rule: FIRST candidate by content_id wins per
    # (prio, key) — the canonical deterministic pick, and the rule the
    # q132 oracle states (ORDER BY content_id ASC, rn = 1). The
    # reference's dict overwrite would keep the last-inserted candidate
    # instead; that insertion order is an implementation detail (and
    # string-descending ids would misorder 'b9' vs 'b10' anyway), so both
    # engines pin the minimum id.
    w_first = W.partitionBy("doc_id", "_prio", "_key").orderBy("content_id")
    cand_keys = (
        stacked(candidates, label_col)
        .withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "_prio", "_key", "content_id")
    )
    w_best = W.partitionBy("doc_id", "graphic_id").orderBy(
        "line_idx", "_prio"
    )
    return (
        stacked(lines, "line")
        .join(cand_keys, ["doc_id", "_prio", "_key"])
        .withColumn("_best", F.row_number().over(w_best))
        .filter(F.col("_best") == 1)
        .select("doc_id", "graphic_id", "content_id")
    )
