"""BIO label operators (reference: sciencebeam_parser/models/model.py).

* ``strip_tag_prefix`` — utils/labels.py:5-9: drop a leading ``B-``/``I-``.
* ``group_bio_entities`` — models/model.py:61-79
  (``iter_entities_including_other``): collapse per-token BIO labels into
  entity runs. A new entity starts when the label has a ``B-`` prefix or the
  stripped tag differs from the previous token's stripped tag; ``O`` runs are
  kept as entities too.
* ``filter_by_labels`` — models/model.py:112-171: keep only tokens whose
  label tag is in a wanted set (the label-filtered document view).
* ``split_by_label`` — models/model.py:82-110: bucket tokens by stripped tag
  (one pass, all buckets) — in Spark this is just the tag column itself; the
  helper adds the column so downstream stages groupBy/filter on it.

All are pure window/aggregate SQL — the gaps-and-islands pattern — so they
whole-stage-codegen and scale linearly in tokens with one shuffle on
(partition keys). The fulltext cascade groups its islands in its own
per-document Python pass (``plans.cascade``); ``group_bio_entities`` stays
the SQL form for the query callers and is that kernel's parity reference
(``tests/test_cascade.py::TestBioParity``).
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

TAG_PREFIX_RE = "^[BI]-"


def strip_tag_prefix(label: Column | str) -> Column:
    """utils/labels.py:5-9 — 'B-<title>' → '<title>'; 'O' stays 'O'."""
    return F.regexp_replace(label, TAG_PREFIX_RE, "")


def group_bio_entities(
    labeled: DataFrame,
    *,
    label_col: str = "label",
    order_col: str = "token_seq",
    partition_cols: Sequence[str] = ("doc_id",),
    text_col: str | None = None,
    keep_other: bool = True,
) -> DataFrame:
    """Collapse BIO-labeled tokens into one row per entity run.

    Output: partition_cols + (entity_group, tag, token_start, token_end,
    n_tokens[, text]). Matches iter_entities_including_other
    (models/model.py:61-79): boundary on ``B-`` prefix OR tag change;
    ``O`` runs kept (drop with keep_other=False).
    """
    pcols = list(partition_cols)
    w = W.partitionBy(*pcols).orderBy(order_col)
    tag = strip_tag_prefix(F.col(label_col))
    is_begin = F.col(label_col).startswith("B-")
    prev_tag = F.lag(tag.alias("_t")).over(w)
    boundary = (
        is_begin | prev_tag.isNull() | (tag != prev_tag)
    ).cast("int")
    grouped = labeled.withColumn("_tag", tag).withColumn(
        "entity_group",
        F.sum(boundary).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    aggs = [
        # all rows in a group share _tag (boundary fires on tag change), so
        # min == first; min is the construct the DuckDB oracles state, and
        # unlike first it is order-insensitive by definition — byte-identical
        # across engines with zero ambiguity.
        F.min("_tag").alias("tag"),
        F.min(order_col).alias("token_start"),
        F.max(order_col).alias("token_end"),
        F.count("*").alias("n_tokens"),
    ]
    if text_col is not None:
        # order-preserving text assembly: sort (seq, text) structs, then join
        # — join_layout_tokens semantics (layout_document.py:500-509)
        aggs.append(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(order_col, text_col))),
                    lambda s: s[text_col],
                ),
                " ",
            ).alias("text")
        )
    out = grouped.groupBy(*pcols, "entity_group").agg(*aggs)
    if not keep_other:
        out = out.filter(F.col("tag") != "O")
    return out


def filter_by_labels(
    tokens: DataFrame,
    labels: DataFrame,
    wanted_tags: Sequence[str],
    *,
    on: Sequence[str] = ("doc_id", "token_seq"),
    label_col: str = "label",
) -> DataFrame:
    """Label-filtered document view (models/model.py:112-171).

    Left-semi join: tokens whose predicted tag ∈ wanted_tags. Keeps every
    token column (page/block/line nesting intact) — the reference's
    'view over shared token objects' for free via immutability.
    """
    wanted = labels.filter(strip_tag_prefix(F.col(label_col)).isin(list(wanted_tags)))
    return tokens.join(wanted, on=list(on), how="left_semi")


def split_by_label(labels: DataFrame, *, label_col: str = "label") -> DataFrame:
    """Add the stripped ``tag`` column — the multi-way split key
    (models/model.py:82-110). Downstream stages filter/groupBy on it;
    a partitioned write on ``tag`` materializes all buckets in one pass.
    """
    return labels.withColumn("tag", strip_tag_prefix(F.col(label_col)))
