"""Document-pipeline operators surfaced as oracle-checkable queries.

The F1 ``tokens`` fixture tables aren't among the driver's parquet tables,
so these queries derive a token relation from ``documents`` (deterministic
whitespace tokenization) and run the §2A operators on it:

* q80 tokenize (A4/A6)       — posexplode with stable per-doc sequence
* q81 BIO entities (A13)     — labels derived deterministically from token
                               shape, then gaps-and-islands grouping
* q82 token features (A7)    — prefixes/suffixes/classes + lag + bins
* q83 char offsets (LayoutTokensText, §1.2) — running-sum window
* q84 id assignment (A19)    — 'e0','e1',… per doc in entity order
* q85 repetitive pattern (A9 analog) — first-3-word pattern across docs of
                               the same source, seen>1 + first-seen flags

Each has an exact DuckDB oracle: the operators are window/agg SQL, so the
oracle states the same algebra independently.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.operators.bio import group_bio_entities
from sciencebeam_parser_spark.operators.features import (
    capitalisation_feature,
    digit_feature,
    linear_scaling_bin,
    prefix_feature,
    suffix_feature,
)
from sciencebeam_parser_spark.operators.ids import assign_ids
from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import scratch_dir

_WORDS_SQL = "string_split_regex(trim(text), '\\s+')"

_TOKENS_CTE = f"""
    tokens AS (
        SELECT doc_id,
               CAST(pos AS BIGINT) AS token_seq,
               tok AS token
        FROM (
            SELECT doc_id,
                   unnest({_WORDS_SQL}) AS tok,
                   unnest(range(1, len({_WORDS_SQL}) + 1)) AS pos
            FROM documents
        )
    )
"""


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "token"),
    ).select(
        "doc_id", (F.col("pos") + 1).cast("long").alias("token_seq"), "token"
    )


@register(
    "q80_tokenize_documents",
    oracle="WITH " + _TOKENS_CTE + """
    SELECT doc_id, token_seq, token FROM tokens
    """,
    survey_ref="§2A A4/A6 tokenize; §2B UDTF/explode",
    doc="Whitespace tokenization with stable per-doc sequence (surrogate key "
        "minting, SURVEY §1.4) — posexplode keeps document order explicit.",
)
def q80_tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokens(spark, sf_dir)


# Deterministic mock labels: numeric tokens are 'num' entities (B on run
# start), long tokens are 'long', everything else O — the mock-model trick
# (tests/processors/fulltext/model_mocks.py) in pure SQL.
_LABEL_SQL = """
    CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'num'
         WHEN len(token) >= 6 THEN 'long'
         ELSE 'O' END
"""


@register(
    "q81_bio_entities",
    oracle="WITH " + _TOKENS_CTE + f""",
    tagged AS (
        SELECT doc_id, token_seq, token, {_LABEL_SQL} AS tag FROM tokens
    ),
    flagged AS (
        SELECT *, CASE WHEN lag(tag) OVER w IS NULL
                         OR tag <> lag(tag) OVER w THEN 1 ELSE 0 END AS boundary
        FROM tagged
        WINDOW w AS (PARTITION BY doc_id ORDER BY token_seq)
    ),
    grouped AS (
        SELECT *, sum(boundary) OVER (
            PARTITION BY doc_id ORDER BY token_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS entity_group
        FROM flagged
    )
    SELECT doc_id, entity_group, min(tag) AS tag,
           min(token_seq) AS token_start, max(token_seq) AS token_end,
           CAST(count(*) AS BIGINT) AS n_tokens,
           string_agg(token, ' ' ORDER BY token_seq) AS text
    FROM grouped GROUP BY doc_id, entity_group
    """,
    survey_ref="§2A A13 BIO grouping (gaps-and-islands)",
    doc="group_bio_entities over mock I-tagged labels (no B- prefixes, so "
        "boundaries are tag changes only — both engines state the same "
        "windowed island numbering).",
)
def q81_bio_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    tag = (
        F.when(F.col("token").rlike("^[0-9]+$"), "num")
        .when(F.length("token") >= 6, "long")
        .otherwise("O")
    )
    labeled = toks.select(
        "doc_id",
        "token_seq",
        F.col("token").alias("text"),
        F.concat(F.lit("I-"), tag).alias("label"),
    ).withColumn("label", F.when(F.col("label") == "I-O", "O").otherwise(F.col("label")))
    return group_bio_entities(labeled, text_col="text").select(
        "doc_id",
        "entity_group",
        "tag",
        "token_start",
        "token_end",
        "n_tokens",
        "text",
    )


@register(
    "q82_token_features",
    oracle="WITH " + _TOKENS_CTE + """
    SELECT doc_id, token_seq,
           substr(token, 1, 1) AS prefix_1,
           substr(token, 2, 2) AS prefix_2_tail,
           CASE WHEN len(token) <= 3 THEN token
                ELSE substr(token, len(token) - 2, 3) END AS suffix_3,
           CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'ALLDIGIT'
                WHEN regexp_matches(token, '[0-9]') THEN 'CONTAINSDIGITS'
                ELSE 'NODIGIT' END AS digit_class,
           CASE WHEN len(token) > 0 AND NOT regexp_matches(token, '[a-z]')
                THEN 'ALLCAP'
                WHEN regexp_matches(token, '^[A-Z]') THEN 'INITCAP'
                ELSE 'NOCAPS' END AS cap_class,
           lag(token) OVER w AS prev_token,
           CASE WHEN (token_seq - 1) >= count(*) OVER (PARTITION BY doc_id)
                THEN 10
                WHEN (token_seq - 1) <= 0 THEN 0
                ELSE CAST(floor((CAST(token_seq - 1 AS DOUBLE)
                          / count(*) OVER (PARTITION BY doc_id)) * 10) AS INT)
           END AS doc_position_bin
    FROM tokens
    WINDOW w AS (PARTITION BY doc_id ORDER BY token_seq)
    """,
    survey_ref="§2A A7 feature generation; §2B lag + partition agg windows",
)
def q82_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    t = F.col("token")
    w = W.partitionBy("doc_id").orderBy("token_seq")
    w_all = W.partitionBy("doc_id")
    return toks.select(
        "doc_id",
        "token_seq",
        prefix_feature(t, 1).alias("prefix_1"),
        F.substring(t, 2, 2).alias("prefix_2_tail"),
        suffix_feature(t, 3).alias("suffix_3"),
        digit_feature(t).alias("digit_class"),
        capitalisation_feature(t).alias("cap_class"),
        F.lag("token").over(w).alias("prev_token"),
        linear_scaling_bin(
            F.col("token_seq") - 1, F.count("*").over(w_all), 10
        ).alias("doc_position_bin"),
    )


@register(
    "q83_char_offsets",
    oracle="WITH " + _TOKENS_CTE + """
    SELECT doc_id, token_seq, token,
           CAST(coalesce(sum(len(token) + 1) OVER (
               PARTITION BY doc_id ORDER BY token_seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS char_start,
           CAST(coalesce(sum(len(token) + 1) OVER (
               PARTITION BY doc_id ORDER BY token_seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + len(token) AS BIGINT) AS char_end
    FROM tokens
    """,
    survey_ref="§1.2 LayoutTokensText char-offset index; §2B running sum",
    doc="start = sum(len+whitespace) over preceding tokens — the "
        "LayoutTokensText offset index (layout_document.py:450-497) as a "
        "running-sum window.",
)
def q83_char_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("token_seq")
    start = F.coalesce(
        F.sum(F.length("token") + 1).over(w.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return toks.select(
        "doc_id",
        "token_seq",
        "token",
        start.alias("char_start"),
        (start + F.length("token")).cast("long").alias("char_end"),
    )


@register(
    "q84_id_assignment",
    oracle="WITH " + _TOKENS_CTE + f""",
    tagged AS (
        SELECT doc_id, token_seq, token, {_LABEL_SQL} AS tag FROM tokens
    )
    SELECT doc_id, token_seq, token,
           'e' || CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY token_seq) - 1 AS VARCHAR)
               AS content_id
    FROM tagged WHERE tag = 'long'
    """,
    survey_ref="§2A A19 id assignment (iter_ids)",
)
def q84_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    longs = toks.filter(
        ~F.col("token").rlike("^[0-9]+$") & (F.length("token") >= 6)
    )
    return assign_ids(
        longs, prefix="e", order_cols=("token_seq",), out_col="content_id"
    ).select("doc_id", "token_seq", "token", "content_id")


@register(
    "q85_repetitive_patterns",
    oracle=f"""
    WITH firsts AS (
        SELECT doc_id, source,
               lower(regexp_replace(
                   array_to_string({_WORDS_SQL}[1:3], ' '),
                   '[^a-zA-Z ]', '', 'g')) AS pattern
        FROM documents
    ),
    kept AS (SELECT * FROM firsts WHERE len(pattern) >= 8)
    SELECT doc_id, source, pattern,
           CASE WHEN count(*) OVER (PARTITION BY source, pattern) > 1
                THEN TRUE ELSE FALSE END AS is_repetitive_pattern,
           CASE WHEN count(*) OVER (PARTITION BY source, pattern) > 1
                 AND row_number() OVER (
                     PARTITION BY source, pattern ORDER BY doc_id) = 1
                THEN TRUE ELSE FALSE END AS is_first_repetitive_pattern
    FROM kept
    """,
    survey_ref="§2A A9 repetitive-pattern detection (self-aggregation + first-seen)",
    doc="A9 analog across docs of a source: pattern = first 3 words stripped "
        "to letters (get_text_pattern, segmentation/data.py:66-68), kept at "
        ">=8 chars, repetitive when seen >1, first-seen in doc order.",
)
def q85_repetitive_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pattern = F.lower(
        F.regexp_replace(
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 3), " "),
            "[^a-zA-Z ]",
            "",
        )
    )
    kept = docs.select("doc_id", "source", pattern.alias("pattern")).filter(
        F.length("pattern") >= 8
    )
    w_p = W.partitionBy("source", "pattern")
    w_seq = w_p.orderBy("doc_id")
    rep = F.count("*").over(w_p) > 1
    return kept.select(
        "doc_id",
        "source",
        "pattern",
        rep.alias("is_repetitive_pattern"),
        (rep & (F.row_number().over(w_seq) == 1)).alias("is_first_repetitive_pattern"),
    )


@register(
    "q99_bio_entities_b_prefix",
    oracle="WITH " + _TOKENS_CTE + f""",
    tagged AS (
        SELECT doc_id, token_seq, token,
               {_LABEL_SQL} AS tag,
               CASE WHEN token_seq % 5 = 1 THEN 'B-' ELSE 'I-' END
                   || {_LABEL_SQL} AS label
        FROM tokens
    ),
    flagged AS (
        SELECT *, CASE WHEN starts_with(label, 'B-')
                         OR lag(tag) OVER w IS NULL
                         OR tag <> lag(tag) OVER w THEN 1 ELSE 0 END AS boundary
        FROM tagged
        WINDOW w AS (PARTITION BY doc_id ORDER BY token_seq)
    ),
    grouped AS (
        SELECT *, sum(boundary) OVER (
            PARTITION BY doc_id ORDER BY token_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS entity_group
        FROM flagged
    )
    SELECT doc_id, entity_group, min(tag) AS tag,
           min(token_seq) AS token_start, max(token_seq) AS token_end,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM grouped GROUP BY doc_id, entity_group
    """,
    survey_ref="§2A A13 BIO grouping — explicit B- boundary path "
               "(models/model.py:61-79)",
    doc="Gaps-and-islands with BOTH boundary conditions exercised: a B- "
        "prefix forces a new entity even mid-run of the same tag (every 5th "
        "token is B-tagged), unlike q81's I-only labels where boundaries "
        "are tag changes alone.",
)
def q99_bio_entities_b_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    tag = (
        F.when(F.col("token").rlike("^[0-9]+$"), "num")
        .when(F.length("token") >= 6, "long")
        .otherwise("O")
    )
    labeled = toks.select(
        "doc_id",
        "token_seq",
        F.concat(
            F.when(F.col("token_seq") % 5 == 1, "B-").otherwise("I-"), tag
        ).alias("label"),
    )
    return group_bio_entities(labeled).select(
        "doc_id", "entity_group", "tag", "token_start", "token_end",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# q102 — segmentation 34-feature line vector (A7)
# ---------------------------------------------------------------------------

# Structured layout-token fixture: page/block/line hierarchy + fonts derived
# deterministically from token_seq (5 tokens/line, 3 lines/block,
# 4 blocks/page; fonts block-constant) so both engines see identical input.
_LTOKENS_CTE = f"""
    lt AS (
        SELECT doc_id, token_seq, token AS text,
               CAST((token_seq - 1) // 60 AS INT) AS page_number,
               (token_seq - 1) // 15 AS block_id,
               (token_seq - 1) // 5 AS line_id,
               'f' || (((token_seq - 1) // 15) % 3) AS font_family,
               8.0 + (((token_seq - 1) // 15) % 5) AS font_size,
               ((token_seq - 1) // 15) % 4 = 0 AS is_bold,
               ((token_seq - 1) // 15) % 5 = 0 AS is_italics,
               (((token_seq - 1) // 5) % 3) * 20.0 AS x,
               5.0 * len(token) AS width,
               ((token_seq - 1) // 15) % 7 = 0 AS is_superscript
        FROM tokens
    )
"""

# regex class of kept punctuation-profile chars, SQL-quoted ('' for ')
_PUNCT_STRIP_SQL = (
    "[^(（\\[•*,:;?.!/)）\\-−–‐«»„\"“”‘’''`$#@\\]♦♥♣♠]"
)

_SEG_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + f""",
    lines AS (
        SELECT doc_id, page_number, block_id, line_id,
               min(token_seq) AS line_seq,
               CAST(count(*) AS BIGINT) AS n_line_tokens,
               string_agg(text, ' ' ORDER BY token_seq) AS line_text,
               arg_min(text, token_seq) AS tok1,
               (list(text ORDER BY token_seq))[2] AS tok2,
               arg_min(font_family, token_seq) AS b_family_tok,
               arg_min(font_size, token_seq) AS b_size_tok,
               arg_min(is_bold, token_seq) AS b_bold_tok,
               arg_min(is_italics, token_seq) AS b_italics_tok
        FROM lt GROUP BY 1, 2, 3, 4
    ),
    blk AS (
        SELECT *,
               row_number() OVER wb - 1 AS line_index,
               count(*) OVER wba AS line_count,
               max(len(line_text)) OVER wba AS max_line_len,
               first_value(b_family_tok) OVER wb AS b_family,
               first_value(b_size_tok) OVER wb AS b_size,
               first_value(b_bold_tok) OVER wb AS b_bold,
               first_value(b_italics_tok) OVER wb AS b_italics
        FROM lines
        WINDOW wb AS (PARTITION BY doc_id, block_id ORDER BY line_seq
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING),
               wba AS (PARTITION BY doc_id, block_id)
    ),
    pg AS (
        SELECT *, dense_rank() OVER (
                   PARTITION BY doc_id, page_number ORDER BY block_id) - 1
                   AS block_index
        FROM blk
    ),
    pg2 AS (
        SELECT *, max(block_index + 1) OVER (
                   PARTITION BY doc_id, page_number) AS block_count
        FROM pg
    ),
    docw AS (
        SELECT *,
               lag(b_family) OVER wd AS p_family,
               lag(b_size) OVER wd AS p_size,
               lag(line_seq) OVER wd AS p_line_seq,
               CAST(COALESCE(sum(n_line_tokens) OVER (
                   PARTITION BY doc_id ORDER BY line_seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS doc_token_index,
               CAST(sum(n_line_tokens) OVER (PARTITION BY doc_id)
                   AS BIGINT) AS doc_token_count
        FROM pg2
        WINDOW wd AS (PARTITION BY doc_id ORDER BY line_seq)
    ),
    pat AS (
        SELECT *,
               CASE WHEN line_index = 0
                         AND (block_index < 2
                              OR block_index = block_count - 1)
                         AND len(lower(regexp_replace(
                             line_text, '[^a-zA-Z ]', '', 'g'))) >= 8
                    THEN lower(regexp_replace(
                             line_text, '[^a-zA-Z ]', '', 'g'))
               END AS pattern
        FROM docw
    ),
    rep AS (
        SELECT *,
               pattern IS NOT NULL
                   AND count(*) OVER wp > 1 AS is_rep_b,
               pattern IS NOT NULL
                   AND count(*) OVER wp > 1
                   AND row_number() OVER (
                       PARTITION BY doc_id, pattern ORDER BY line_seq) = 1
                   AS is_first_rep_b
        FROM pat
        WINDOW wp AS (PARTITION BY doc_id, pattern)
    ),
    feat AS (
        SELECT doc_id, page_number, block_id, line_id, line_seq,
               tok1 AS token_text,
               CASE WHEN COALESCE(tok2, '') <> '' THEN tok2 ELSE tok1 END
                   AS second_token_text,
               lower(tok1) AS lower_token_text,
               substr(tok1, 1, 1) AS prefix_1,
               substr(tok1, 1, 2) AS prefix_2,
               substr(tok1, 1, 3) AS prefix_3,
               substr(tok1, 1, 4) AS prefix_4,
               CASE WHEN line_index = 0 THEN 'BLOCKSTART'
                    WHEN line_index = line_count - 1 THEN 'BLOCKEND'
                    ELSE 'BLOCKIN' END AS block_status,
               CASE WHEN block_index = 0 AND line_index = 0
                        THEN 'PAGESTART'
                    WHEN block_index = block_count - 1
                         AND line_index = line_count - 1 THEN 'PAGEEND'
                    ELSE 'PAGEIN' END AS page_status,
               CASE WHEN p_line_seq IS NULL THEN 'NEWFONT'
                    WHEN b_family IS NOT DISTINCT FROM p_family
                        THEN 'SAMEFONT'
                    ELSE 'NEWFONT' END AS font_status,
               CASE WHEN p_line_seq IS NULL OR p_size IS NULL
                         OR p_size = 0.0 OR b_size IS NULL
                         OR b_size = 0.0 OR p_size < b_size
                        THEN 'HIGHERFONT'
                    WHEN p_size > b_size THEN 'LOWERFONT'
                    ELSE 'SAMEFONTSIZE' END AS font_size_status,
               CASE WHEN b_bold THEN '1' ELSE '0' END AS is_bold,
               CASE WHEN b_italics THEN '1' ELSE '0' END AS is_italic,
               CASE WHEN regexp_matches(tok1, '^[0-9]+$') THEN 'NOCAPS'
                    WHEN len(tok1) > 0
                         AND NOT regexp_matches(tok1, '[a-z]')
                        THEN 'ALLCAP'
                    WHEN regexp_matches(tok1, '^[A-Z]') THEN 'INITCAP'
                    ELSE 'NOCAPS' END AS cap_status,
               CASE WHEN regexp_matches(tok1, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(tok1, '[0-9]')
                        THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END AS digit_status,
               CASE WHEN len(tok1) = 1 THEN '1' ELSE '0' END
                   AS is_single_char,
               CAST(CASE WHEN doc_token_index >= doc_token_count THEN 12
                         WHEN doc_token_index <= 0 THEN 0
                         ELSE CAST(floor(
                             doc_token_index / doc_token_count * 12)
                             AS INT)
                    END AS VARCHAR) AS rel_doc_position,
               CASE WHEN regexp_replace(line_text,
                         '{_PUNCT_STRIP_SQL}', '', 'g') = '' THEN 'no'
                    ELSE regexp_replace(line_text,
                         '{_PUNCT_STRIP_SQL}', '', 'g')
                    END AS line_punct_profile,
               CAST(len(regexp_replace(line_text,
                   '{_PUNCT_STRIP_SQL}', '', 'g')) AS VARCHAR)
                   AS punct_profile_len,
               CAST(CASE WHEN len(line_text) >= max_line_len THEN 10
                         WHEN len(line_text) <= 0 THEN 0
                         ELSE CAST(floor(
                             len(line_text) / max_line_len * 10) AS INT)
                    END AS VARCHAR) AS block_rel_line_len,
               CASE WHEN is_rep_b THEN '1' ELSE '0' END AS is_repetitive,
               CASE WHEN is_first_rep_b THEN '1' ELSE '0' END
                   AS is_first_repetitive,
               translate(trim(line_text), ' ' || chr(9),
                   chr(160) || chr(160)) AS whole_line
        FROM rep
    )
    SELECT *,
           concat_ws(' ', token_text, second_token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               block_status, page_status, font_status, font_size_status,
               is_bold, is_italic, cap_status, digit_status, is_single_char,
               '0', '0', '0', '0', '0', '0', '0',
               rel_doc_position, '0',
               line_punct_profile, punct_profile_len, block_rel_line_len,
               '0', '0', is_repetitive, is_first_repetitive, '1',
               whole_line) AS data_line
    FROM feat
    """
)


def _layout_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the structured layout-token fixture (see _LTOKENS_CTE)."""
    t = _tokens(spark, sf_dir)
    i = F.col("token_seq") - 1
    blk = F.floor(i / 15)
    return t.select(
        "doc_id",
        "token_seq",
        F.col("token").alias("text"),
        F.floor(i / 60).cast("int").alias("page_number"),
        blk.cast("long").alias("block_id"),
        F.floor(i / 5).cast("long").alias("line_id"),
        F.concat(F.lit("f"), (blk % 3).cast("string")).alias("font_family"),
        (F.lit(8.0) + (blk % 5)).alias("font_size"),
        (blk % 4 == 0).alias("is_bold"),
        (blk % 5 == 0).alias("is_italics"),
        ((F.floor(i / 5) % 3) * 20.0).alias("x"),
        (F.length("token") * 5.0).alias("width"),
        (blk % 7 == 0).alias("is_superscript"),
    )


@register(
    "q102_segmentation_line_features",
    oracle=_SEG_ORACLE,
    survey_ref="§2A A7 segmentation data generator — the 34-feature line "
               "vector (models/segmentation/data.py:237-303)",
    doc="The full segmentation CRF input: one row per layout line with all "
        "34 features (incl. dummies) joined into data_line exactly in the "
        "reference's asserted order. Every mutable-state feature of the "
        "reference's Python walk is a window: previous-token font → lag, "
        "running token index → exclusive-frame sum, block/page indexes → "
        "row_number/dense_rank, repetitive patterns → count over "
        "(doc, pattern). All partitions key on doc_id — bounded state, "
        "arbitrarily many documents.",
)
def q102_segmentation_line_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        segmentation_line_features,
    )

    return segmentation_line_features(_layout_tokens(spark, sf_dir))


# ---------------------------------------------------------------------------
# q103 — header 32-feature token vector (A7)
# ---------------------------------------------------------------------------

_HDR_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + """,
    linestart AS (
        SELECT doc_id, line_id, x AS line_x, width / len(text) AS char_w
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id, line_id ORDER BY token_seq) AS rn
            FROM lt
        )
        WHERE rn = 1 AND x IS NOT NULL AND len(text) > 0
    ),
    flips AS (
        SELECT doc_id, line_id,
               CASE WHEN line_x - lag(line_x) OVER w > char_w THEN TRUE
                    WHEN lag(line_x) OVER w - line_x > char_w THEN FALSE
               END AS flip
        FROM linestart
        WINDOW w AS (PARTITION BY doc_id ORDER BY line_id)
    ),
    ind AS (
        SELECT doc_id, line_id,
               COALESCE(last_value(flip IGNORE NULLS) OVER (
                   PARTITION BY doc_id ORDER BY line_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   FALSE) AS is_indented
        FROM flips
    ),
    tokf AS (
        SELECT lt.*, ind.is_indented,
               row_number() OVER wl - 1 AS tok_idx,
               count(*) OVER wla AS tok_cnt,
               dense_rank() OVER (
                   PARTITION BY lt.doc_id, block_id ORDER BY lt.line_id
               ) - 1 AS line_idx,
               lag(token_seq) OVER wd AS prev_seq,
               lag(font_family) OVER wd AS prev_family,
               lag(font_size) OVER wd AS prev_size,
               max(font_size) OVER (PARTITION BY lt.doc_id) AS max_size
        FROM lt JOIN ind ON lt.doc_id = ind.doc_id
                        AND lt.line_id = ind.line_id
        WINDOW wl AS (PARTITION BY lt.doc_id, lt.line_id ORDER BY token_seq),
               wla AS (PARTITION BY lt.doc_id, lt.line_id),
               wd AS (PARTITION BY lt.doc_id ORDER BY token_seq)
    ),
    tokf2 AS (
        SELECT *, max(line_idx + 1) OVER (
                   PARTITION BY doc_id, block_id) AS line_cnt
        FROM tokf
    ),
    stat AS (
        SELECT *,
               CASE WHEN tok_idx = tok_cnt - 1 THEN 'LINEEND'
                    WHEN tok_idx = 0 THEN 'LINESTART'
                    ELSE 'LINEIN' END AS line_status
        FROM tokf2
    ),
    feat AS (
        SELECT doc_id, block_id, line_id, token_seq,
               text AS token_text,
               lower(text) AS lower_token_text,
               substr(text, 1, 1) AS prefix_1,
               substr(text, 1, 2) AS prefix_2,
               substr(text, 1, 3) AS prefix_3,
               substr(text, 1, 4) AS prefix_4,
               CASE WHEN len(text) <= 1 THEN text
                    ELSE substr(text, len(text), 1) END AS suffix_1,
               CASE WHEN len(text) <= 2 THEN text
                    ELSE substr(text, len(text) - 1, 2) END AS suffix_2,
               CASE WHEN len(text) <= 3 THEN text
                    ELSE substr(text, len(text) - 2, 3) END AS suffix_3,
               CASE WHEN len(text) <= 4 THEN text
                    ELSE substr(text, len(text) - 3, 4) END AS suffix_4,
               CASE WHEN line_idx = line_cnt - 1
                         AND line_status = 'LINEEND' THEN 'BLOCKEND'
                    WHEN line_idx = 0 AND line_status = 'LINESTART'
                        THEN 'BLOCKSTART'
                    ELSE 'BLOCKIN' END AS block_status,
               line_status,
               CASE WHEN is_indented THEN 'LINEINDENT'
                    ELSE 'ALIGNEDLEFT' END AS alignment_status,
               CASE WHEN prev_seq IS NULL THEN 'NEWFONT'
                    WHEN font_family IS NOT DISTINCT FROM prev_family
                        THEN 'SAMEFONT'
                    ELSE 'NEWFONT' END AS font_status,
               CASE WHEN prev_seq IS NULL OR prev_size IS NULL
                         OR prev_size = 0.0 OR font_size IS NULL
                         OR font_size = 0.0 OR prev_size < font_size
                        THEN 'HIGHERFONT'
                    WHEN prev_size > font_size THEN 'LOWERFONT'
                    ELSE 'SAMEFONTSIZE' END AS font_size_status,
               CASE WHEN is_bold THEN '1' ELSE '0' END AS is_bold,
               CASE WHEN is_italics THEN '1' ELSE '0' END AS is_italic,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'NOCAPS'
                    WHEN len(text) > 0
                         AND NOT regexp_matches(text, '[a-z]') THEN 'ALLCAP'
                    WHEN regexp_matches(text, '^[A-Z]') THEN 'INITCAP'
                    ELSE 'NOCAPS' END AS cap_status,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(text, '[0-9]')
                        THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END AS digit_status,
               CASE WHEN len(text) = 1 THEN '1' ELSE '0' END
                   AS is_single_char,
               CASE WHEN text IN ('(', '[') THEN 'OPENBRACKET'
                    WHEN text IN (')', ']') THEN 'ENDBRACKET'
                    WHEN text = '.' THEN 'DOT'
                    WHEN text = ',' THEN 'COMMA'
                    WHEN text IN ('-', '–') THEN 'HYPHEN'
                    WHEN text IN ('"', '''', '`', '’') THEN 'QUOTE'
                    WHEN regexp_matches(text, '^[,:;?.]+$') THEN 'PUNCT'
                    ELSE 'NOPUNCT' END AS punct_type,
               CASE WHEN font_size = max_size THEN '1' ELSE '0' END
                   AS is_largest_font
        FROM stat
    )
    SELECT *,
           concat_ws(' ', token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               suffix_1, suffix_2, suffix_3, suffix_4,
               block_status, line_status, alignment_status,
               font_status, font_size_status, is_bold, is_italic,
               cap_status, digit_status, is_single_char,
               '0', '0', '0', '0', '0', '0', '0',
               punct_type, is_largest_font, '0', '1', '0') AS data_line
    FROM feat
    """
)


@register(
    "q103_header_token_features",
    oracle=_HDR_ORACLE,
    survey_ref="§2A A7 header data generator — the 32-feature token vector "
               "(models/header/data.py:10-52); A10 alignment status",
    doc="The full header-model CRF input: one row per token with all 32 "
        "features (incl. the GROBID-bug dummy font features the reference "
        "preserves) joined into data_line in the reference's order. "
        "Stateful pieces are windows: previous-token font → lag, line/"
        "block indexes → row_number/dense_rank, indentation carry → "
        "last(flip, ignorenulls) over preceding lines, largest-font → "
        "doc-partition max.",
)
def q103_header_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        header_token_features,
    )

    return header_token_features(_layout_tokens(spark, sf_dir))


@register(
    "q104_word_shape",
    oracle="WITH " + _TOKENS_CTE + """,
    shaped AS (
        SELECT doc_id, token_seq, token,
               regexp_replace(regexp_replace(regexp_replace(
                   token, '[a-z]', 'x', 'g'), '[A-Z]', 'X', 'g'),
                   '[0-9]', 'd', 'g') AS shape
        FROM tokens
    ),
    mids AS (
        SELECT *, CASE WHEN len(shape) >= 4
                       THEN substr(shape, 2, len(shape) - 3)
                       ELSE '' END AS mid
        FROM shaped
    )
    SELECT doc_id, token_seq, token,
           substr(shape, 1, 1)
           -- run collapse via comprehension over an index range (RE2 has
           -- no backrefs to collapse runs): free of the deprecated
           -- two-arg arrow lambda; COALESCE because array_to_string of
           -- the empty list is NULL in DuckDB (empty mid -> empty range)
           || COALESCE(array_to_string(
                  [string_split(mid, '')[i]
                   FOR i IN range(1, len(mid) + 1)
                   IF i = 1 OR string_split(mid, '')[i - 1]
                             <> string_split(mid, '')[i]], ''), '')
           || CASE WHEN len(shape) >= 3
                       THEN substr(shape, len(shape) - 1, 2)
                   WHEN len(shape) = 2 THEN substr(shape, 2, 1)
                   ELSE '' END AS word_shape
    FROM mids
    """,
    survey_ref="§2A A7 word-shape feature (models/data.py:360-383, "
               "citation/name data generators)",
    doc="Word-shape per token: digit→d, upper→X, lower→x, punctuation "
        "kept; first char + dedup-collapsed middle + last-two suffix. "
        "Collapse via an index-range comprehension — portable to RE2 engines "
        "(no backreferences).",
)
def q104_word_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import add_word_shape

    return add_word_shape(_tokens(spark, sf_dir), text_col="token").select(
        "doc_id", "token_seq", "token", "word_shape"
    )


# ---------------------------------------------------------------------------
# q105 — citation 30-feature token vector with live gazetteer lookups (A7)
# ---------------------------------------------------------------------------

_CIT_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + """,
    fn AS (
        SELECT DISTINCT lower(w) AS term FROM (
            SELECT unnest(string_split(p_name, ' ')) AS w
            FROM part WHERE p_partkey % 2 = 0
        )
    ),
    ln AS (
        SELECT DISTINCT lower(w) AS term FROM (
            SELECT unnest(string_split(p_name, ' ')) AS w
            FROM part WHERE p_partkey % 2 = 1
        )
    ),
    tokf AS (
        SELECT lt.*,
               lower(text) AS lower_text,
               fn.term IS NOT NULL AS in_fn,
               ln.term IS NOT NULL AS in_ln,
               row_number() OVER wl - 1 AS tok_idx,
               count(*) OVER wla AS tok_cnt,
               row_number() OVER wd - 1 AS doc_idx,
               count(*) OVER wda AS doc_cnt
        FROM lt
        LEFT JOIN fn ON lower(lt.text) = fn.term
        LEFT JOIN ln ON lower(lt.text) = ln.term
        WINDOW wl AS (PARTITION BY lt.doc_id, lt.line_id ORDER BY token_seq),
               wla AS (PARTITION BY lt.doc_id, lt.line_id),
               wd AS (PARTITION BY lt.doc_id ORDER BY token_seq),
               wda AS (PARTITION BY lt.doc_id)
    ),
    feat AS (
        SELECT doc_id, line_id, token_seq,
               text AS token_text,
               lower_text AS lower_token_text,
               substr(text, 1, 1) AS prefix_1,
               substr(text, 1, 2) AS prefix_2,
               substr(text, 1, 3) AS prefix_3,
               substr(text, 1, 4) AS prefix_4,
               CASE WHEN len(text) <= 1 THEN text
                    ELSE substr(text, len(text), 1) END AS suffix_1,
               CASE WHEN len(text) <= 2 THEN text
                    ELSE substr(text, len(text) - 1, 2) END AS suffix_2,
               CASE WHEN len(text) <= 3 THEN text
                    ELSE substr(text, len(text) - 2, 3) END AS suffix_3,
               CASE WHEN len(text) <= 4 THEN text
                    ELSE substr(text, len(text) - 3, 4) END AS suffix_4,
               CASE WHEN tok_idx = tok_cnt - 1 THEN 'LINEEND'
                    WHEN tok_idx = 0 THEN 'LINESTART'
                    ELSE 'LINEIN' END AS line_status,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'NOCAPS'
                    WHEN len(text) > 0
                         AND NOT regexp_matches(text, '[a-z]') THEN 'ALLCAP'
                    WHEN regexp_matches(text, '^[A-Z]') THEN 'INITCAP'
                    ELSE 'NOCAPS' END AS cap_status,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(text, '[0-9]')
                        THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END AS digit_status,
               CASE WHEN len(text) = 1 THEN '1' ELSE '0' END
                   AS is_single_char,
               CASE WHEN in_fn THEN '1' ELSE '0' END AS is_first_name,
               CASE WHEN in_ln THEN '1' ELSE '0' END AS is_last_name,
               CASE WHEN text IN ('(', '[') THEN 'OPENBRACKET'
                    WHEN text IN (')', ']') THEN 'ENDBRACKET'
                    WHEN text = '.' THEN 'DOT'
                    WHEN text = ',' THEN 'COMMA'
                    WHEN text IN ('-', '–') THEN 'HYPHEN'
                    WHEN text IN ('"', '''', '`', '’') THEN 'QUOTE'
                    WHEN regexp_matches(text, '^[,:;?.]+$') THEN 'PUNCT'
                    ELSE 'NOPUNCT' END AS punct_type,
               CAST(CASE WHEN doc_idx >= doc_cnt THEN 12
                         WHEN doc_idx <= 0 THEN 0
                         ELSE CAST(floor(doc_idx / doc_cnt * 12) AS INT)
                    END AS VARCHAR) AS rel_position
        FROM tokf
    )
    SELECT *,
           concat_ws(' ', token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               suffix_1, suffix_2, suffix_3, suffix_4,
               line_status, cap_status, digit_status, is_single_char,
               '0', '0', is_first_name, is_last_name,
               '0', '0', '0', '0', '0', '0', '0', '0', '0',
               punct_type, rel_position, '0') AS data_line
    FROM feat
    """
)


@register(
    "q105_citation_token_features",
    oracle=_CIT_ORACLE,
    survey_ref="§2A A7 citation data generator — 30-feature token vector "
               "(models/citation/data.py:10-48) incl. live gazetteer "
               "lookups (_get_str_lookup, models/data.py:663-678); §2B "
               "broadcast left join",
    doc="The citation-model CRF input: 30 features per token with REAL "
        "first/last-name gazetteer membership — two broadcast left joins "
        "on lower(text) (the fact table never shuffles for a lookup), "
        "gazetteer terms derived deterministically from part.p_name words. "
        "Position bins and line status are the usual windows.",
)
def q105_citation_token_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        citation_token_features,
    )

    part = table(spark, sf_dir, "part")
    words = part.select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("w")
    )
    fn = words.filter(F.col("p_partkey") % 2 == 0).select(
        F.lower("w").alias("term")
    )
    ln = words.filter(F.col("p_partkey") % 2 == 1).select(
        F.lower("w").alias("term")
    )
    return citation_token_features(_layout_tokens(spark, sf_dir), fn, ln)


# ---------------------------------------------------------------------------
# q106 — reference-segmenter 28-feature token vector (A7)
# ---------------------------------------------------------------------------

_REFSEG_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + f""",
    fn AS (
        SELECT DISTINCT lower(w) AS term FROM (
            SELECT unnest(string_split(p_name, ' ')) AS w
            FROM part WHERE p_partkey % 2 = 0
        )
    ),
    lines AS (
        SELECT doc_id, line_id,
               string_agg(text, '' ORDER BY token_seq) AS line_text
        FROM lt GROUP BY 1, 2
    ),
    linef AS (
        SELECT doc_id, line_id,
               len(line_text) AS line_len,
               CASE WHEN regexp_replace(line_text,
                        '{_PUNCT_STRIP_SQL}', '', 'g') = '' THEN 'no'
                    ELSE regexp_replace(line_text,
                        '{_PUNCT_STRIP_SQL}', '', 'g') END AS profile,
               least(len(regexp_replace(line_text,
                   '{_PUNCT_STRIP_SQL}', '', 'g')), 10) AS profile_trunc_len,
               max(len(line_text)) OVER (PARTITION BY doc_id)
                   AS max_line_len
        FROM lines
    ),
    linestart AS (
        SELECT doc_id, line_id, x AS line_x, width / len(text) AS char_w
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id, line_id ORDER BY token_seq) AS rn
            FROM lt
        )
        WHERE rn = 1 AND x IS NOT NULL AND len(text) > 0
    ),
    flips AS (
        SELECT doc_id, line_id,
               CASE WHEN line_x - lag(line_x) OVER w > char_w THEN TRUE
                    WHEN lag(line_x) OVER w - line_x > char_w THEN FALSE
               END AS flip
        FROM linestart
        WINDOW w AS (PARTITION BY doc_id ORDER BY line_id)
    ),
    ind AS (
        SELECT doc_id, line_id,
               COALESCE(last_value(flip IGNORE NULLS) OVER (
                   PARTITION BY doc_id ORDER BY line_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   FALSE) AS is_indented
        FROM flips
    ),
    tokf AS (
        SELECT lt.*, linef.line_len, linef.profile,
               linef.profile_trunc_len, linef.max_line_len,
               ind.is_indented,
               fn.term IS NOT NULL AS in_fn,
               row_number() OVER wl - 1 AS tok_idx,
               count(*) OVER wla AS tok_cnt,
               CAST(COALESCE(sum(len(text)) OVER (
                   PARTITION BY lt.doc_id, lt.line_id ORDER BY token_seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS line_pos,
               dense_rank() OVER (
                   PARTITION BY lt.doc_id, block_id ORDER BY lt.line_id
               ) - 1 AS line_idx
        FROM lt
        JOIN linef ON lt.doc_id = linef.doc_id
                  AND lt.line_id = linef.line_id
        JOIN ind ON lt.doc_id = ind.doc_id AND lt.line_id = ind.line_id
        LEFT JOIN fn ON lower(lt.text) = fn.term
        WINDOW wl AS (PARTITION BY lt.doc_id, lt.line_id ORDER BY token_seq),
               wla AS (PARTITION BY lt.doc_id, lt.line_id)
    ),
    tokf2 AS (
        SELECT *, max(line_idx + 1) OVER (
                   PARTITION BY doc_id, block_id) AS line_cnt
        FROM tokf
    ),
    stat AS (
        SELECT *,
               CASE WHEN tok_idx = tok_cnt - 1 THEN 'LINEEND'
                    WHEN tok_idx = 0 THEN 'LINESTART'
                    ELSE 'LINEIN' END AS line_status
        FROM tokf2
    ),
    feat AS (
        SELECT doc_id, line_id, token_seq,
               text AS token_text,
               lower(text) AS lower_token_text,
               substr(text, 1, 1) AS prefix_1,
               substr(text, 1, 2) AS prefix_2,
               substr(text, 1, 3) AS prefix_3,
               substr(text, 1, 4) AS prefix_4,
               CASE WHEN len(text) <= 1 THEN text
                    ELSE substr(text, len(text), 1) END AS suffix_1,
               CASE WHEN len(text) <= 2 THEN text
                    ELSE substr(text, len(text) - 1, 2) END AS suffix_2,
               CASE WHEN len(text) <= 3 THEN text
                    ELSE substr(text, len(text) - 2, 3) END AS suffix_3,
               CASE WHEN len(text) <= 4 THEN text
                    ELSE substr(text, len(text) - 3, 4) END AS suffix_4,
               line_status,
               CASE WHEN is_indented THEN 'LINEINDENT'
                    ELSE 'ALIGNEDLEFT' END AS alignment_status,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'NOCAPS'
                    WHEN len(text) > 0
                         AND NOT regexp_matches(text, '[a-z]') THEN 'ALLCAP'
                    WHEN regexp_matches(text, '^[A-Z]') THEN 'INITCAP'
                    ELSE 'NOCAPS' END AS cap_status,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(text, '[0-9]')
                        THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END AS digit_status,
               CASE WHEN len(text) = 1 THEN '1' ELSE '0' END
                   AS is_single_char,
               CASE WHEN in_fn THEN '1' ELSE '0' END AS is_first_name,
               profile AS line_punct_profile,
               CAST(CASE WHEN line_pos >= line_len THEN 10
                         WHEN line_pos <= 0 THEN 0
                         ELSE CAST(floor(line_pos / line_len * 10) AS INT)
                    END AS VARCHAR) AS line_rel_position,
               CAST(CASE WHEN line_len >= max_line_len THEN 10
                         WHEN line_len <= 0 THEN 0
                         ELSE CAST(floor(line_len / max_line_len * 10)
                                   AS INT)
                    END AS VARCHAR) AS line_rel_length,
               CASE WHEN line_idx = line_cnt - 1
                         AND line_status = 'LINEEND' THEN 'BLOCKEND'
                    WHEN line_idx = 0 AND line_status = 'LINESTART'
                        THEN 'BLOCKSTART'
                    ELSE 'BLOCKIN' END AS block_status,
               CAST(profile_trunc_len AS VARCHAR) AS punct_profile_trunc_len
        FROM stat
    )
    SELECT *,
           concat_ws(' ', token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               suffix_1, suffix_2, suffix_3, suffix_4,
               line_status, alignment_status,
               cap_status, digit_status, is_single_char,
               '0', '0', is_first_name, '0', '0', '0', '0',
               line_punct_profile, line_rel_position, line_rel_length,
               block_status, punct_profile_trunc_len, '0') AS data_line
    FROM feat
    """
)


@register(
    "q106_refseg_token_features",
    oracle=_REFSEG_ORACLE,
    survey_ref="§2A A7 reference-segmenter data generator — 28-feature "
               "token vector (models/reference_segmenter/data.py:10-47); "
               "line-scoped char-offset bins (models/data.py:636-665)",
    doc="The reference-segmenter CRF input: 28 features per token. The "
        "line-scoped features (punctuation profile, in-line char-position "
        "bin, doc-relative line length, truncated profile length) use the "
        "reference's NO-SPACE line concatenation, aggregated once per line "
        "and joined back co-partitioned; the running char offset is an "
        "exclusive-frame window sum.",
)
def q106_refseg_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        ref_segmenter_token_features,
    )

    part = table(spark, sf_dir, "part")
    fn = (
        part.filter(F.col("p_partkey") % 2 == 0)
        .select(F.explode(F.split("p_name", " ")).alias("w"))
        .select(F.lower("w").alias("term"))
    )
    return ref_segmenter_token_features(_layout_tokens(spark, sf_dir), fn)


# ---------------------------------------------------------------------------
# q107/q108 — name (21) and affiliation (22) token vectors (A7)
# ---------------------------------------------------------------------------

# shared SQL fragments for the per-model token vectors
_SQL_PREFIX_SUFFIX = """
               text AS token_text,
               lower(text) AS lower_token_text,
               substr(text, 1, 1) AS prefix_1,
               substr(text, 1, 2) AS prefix_2,
               substr(text, 1, 3) AS prefix_3,
               substr(text, 1, 4) AS prefix_4,
               CASE WHEN len(text) <= 1 THEN text
                    ELSE substr(text, len(text), 1) END AS suffix_1,
               CASE WHEN len(text) <= 2 THEN text
                    ELSE substr(text, len(text) - 1, 2) END AS suffix_2,
               CASE WHEN len(text) <= 3 THEN text
                    ELSE substr(text, len(text) - 2, 3) END AS suffix_3,
               CASE WHEN len(text) <= 4 THEN text
                    ELSE substr(text, len(text) - 3, 4) END AS suffix_4
"""
_SQL_CAP_DIGIT = """
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'NOCAPS'
                    WHEN len(text) > 0
                         AND NOT regexp_matches(text, '[a-z]') THEN 'ALLCAP'
                    WHEN regexp_matches(text, '^[A-Z]') THEN 'INITCAP'
                    ELSE 'NOCAPS' END AS cap_status,
               CASE WHEN regexp_matches(text, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(text, '[0-9]')
                        THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END AS digit_status,
               CASE WHEN len(text) = 1 THEN '1' ELSE '0' END
                   AS is_single_char
"""
_SQL_PUNCT_TYPE = """
               CASE WHEN text IN ('(', '[') THEN 'OPENBRACKET'
                    WHEN text IN (')', ']') THEN 'ENDBRACKET'
                    WHEN text = '.' THEN 'DOT'
                    WHEN text = ',' THEN 'COMMA'
                    WHEN text IN ('-', '–') THEN 'HYPHEN'
                    WHEN text IN ('"', '''', '`', '’') THEN 'QUOTE'
                    WHEN regexp_matches(text, '^[,:;?.]+$') THEN 'PUNCT'
                    ELSE 'NOPUNCT' END AS punct_type
"""
_SQL_PART_GAZETTEER = """
    fn AS (
        SELECT DISTINCT lower(w) AS term FROM (
            SELECT unnest(string_split(p_name, ' ')) AS w
            FROM part WHERE p_partkey % 2 = 0
        )
    ),
    ln AS (
        SELECT DISTINCT lower(w) AS term FROM (
            SELECT unnest(string_split(p_name, ' ')) AS w
            FROM part WHERE p_partkey % 2 = 1
        )
    )
"""


def _part_name_terms(spark: SparkSession, sf_dir: str, parity: int) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") % 2 == parity)
        .select(F.explode(F.split("p_name", " ")).alias("w"))
        .select(F.lower("w").alias("term"))
    )


_NAME_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + ", "
    + _SQL_PART_GAZETTEER
    + f""",
    feat AS (
        SELECT lt.doc_id, lt.line_id, token_seq,
               {_SQL_PREFIX_SUFFIX},
               CASE WHEN row_number() OVER wl = count(*) OVER wla
                        THEN 'LINEEND'
                    WHEN row_number() OVER wl = 1 THEN 'LINESTART'
                    ELSE 'LINEIN' END AS line_status,
               {_SQL_CAP_DIGIT},
               CASE WHEN fn.term IS NOT NULL THEN '1' ELSE '0' END
                   AS is_first_name,
               CASE WHEN ln.term IS NOT NULL THEN '1' ELSE '0' END
                   AS is_last_name,
               {_SQL_PUNCT_TYPE}
        FROM lt
        LEFT JOIN fn ON lower(lt.text) = fn.term
        LEFT JOIN ln ON lower(lt.text) = ln.term
        WINDOW wl AS (PARTITION BY lt.doc_id, lt.line_id ORDER BY token_seq),
               wla AS (PARTITION BY lt.doc_id, lt.line_id)
    )
    SELECT *,
           concat_ws(' ', token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               suffix_1, suffix_2, suffix_3, suffix_4,
               line_status, cap_status, digit_status, is_single_char,
               '0', is_first_name, is_last_name, '0', '0',
               punct_type, '0') AS data_line
    FROM feat
    """
)


@register(
    "q107_name_token_features",
    oracle=_NAME_ORACLE,
    survey_ref="§2A A7 name data generator — 21-feature token vector "
               "(models/name/data.py:10-37)",
    doc="The name-model CRF input: 21 features per token with first/last "
        "name gazetteer lookups as broadcast left joins; line status and "
        "scalar classes as shared column expressions.",
)
def q107_name_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        name_token_features,
    )

    return name_token_features(
        _layout_tokens(spark, sf_dir),
        _part_name_terms(spark, sf_dir, 0),
        _part_name_terms(spark, sf_dir, 1),
    )


_WORD_SHAPE_SQL = """
    shaped AS (
        SELECT doc_id, line_id, token_seq,
               regexp_replace(regexp_replace(regexp_replace(
                   text, '[a-z]', 'x', 'g'), '[A-Z]', 'X', 'g'),
                   '[0-9]', 'd', 'g') AS shape
        FROM lt
    ),
    ws AS (
        SELECT doc_id, line_id, token_seq,
               substr(shape, 1, 1)
               || COALESCE(array_to_string(
                      [string_split(mid, '')[i]
                       FOR i IN range(1, len(mid) + 1)
                       IF i = 1 OR string_split(mid, '')[i - 1]
                                 <> string_split(mid, '')[i]], ''), '')
               || CASE WHEN len(shape) >= 3
                           THEN substr(shape, len(shape) - 1, 2)
                       WHEN len(shape) = 2 THEN substr(shape, 2, 1)
                       ELSE '' END AS word_shape
        FROM (
            SELECT *, CASE WHEN len(shape) >= 4
                           THEN substr(shape, 2, len(shape) - 3)
                           ELSE '' END AS mid
            FROM shaped
        )
    )
"""

_AFF_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + ", "
    + _SQL_PART_GAZETTEER
    + ", "
    + _WORD_SHAPE_SQL
    + f""",
    co AS (SELECT DISTINCT lower(n_name) AS term FROM nation),
    feat AS (
        SELECT lt.doc_id, lt.line_id, lt.token_seq,
               {_SQL_PREFIX_SUFFIX},
               {_SQL_CAP_DIGIT},
               CASE WHEN fn.term IS NOT NULL THEN '1' ELSE '0' END
                   AS is_first_name,
               CASE WHEN co.term IS NOT NULL THEN '1' ELSE '0' END
                   AS is_country,
               {_SQL_PUNCT_TYPE},
               ws.word_shape
        FROM lt
        LEFT JOIN fn ON lower(lt.text) = fn.term
        LEFT JOIN co ON lower(lt.text) = co.term
        JOIN ws ON lt.doc_id = ws.doc_id AND lt.token_seq = ws.token_seq
    )
    SELECT doc_id, line_id, token_seq, token_text, lower_token_text,
           prefix_1, prefix_2, prefix_3, prefix_4,
           suffix_1, suffix_2, suffix_3, suffix_4,
           CASE WHEN cap_status = 'ALLCAP' THEN 'ALLCAPS'
                ELSE cap_status END AS cap_status,
           CASE WHEN digit_status = 'CONTAINSDIGITS' THEN 'CONTAINDIGIT'
                ELSE digit_status END AS digit_status,
           is_single_char, is_first_name, is_country, punct_type,
           word_shape,
           concat_ws(' ', token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               suffix_1, suffix_2, suffix_3, suffix_4,
               'LINEEND',
               CASE WHEN cap_status = 'ALLCAP' THEN 'ALLCAPS'
                    ELSE cap_status END,
               CASE WHEN digit_status = 'CONTAINSDIGITS'
                    THEN 'CONTAINDIGIT' ELSE digit_status END,
               is_single_char, '0', '0', is_first_name, '0', is_country,
               punct_type, word_shape, '0') AS data_line
    FROM feat
    """
)


@register(
    "q108_affiliation_token_features",
    oracle=_AFF_ORACLE,
    survey_ref="§2A A7 affiliation-address data generator — 22-feature "
               "token vector (models/affiliation_address/data.py:10-41); "
               "country lookup (models/data.py:668-672)",
    doc="The affiliation-model CRF input: 22 features per token — the "
        "GROBID-#796 dummy LINEEND preserved, ALLCAPS/CONTAINDIGIT "
        "variant classes, country gazetteer membership (nation table, "
        "broadcast), and the word shape embedded in the vector.",
)
def q108_affiliation_token_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        affiliation_token_features,
    )

    nation = table(spark, sf_dir, "nation").select(
        F.lower("n_name").alias("term")
    )
    return affiliation_token_features(
        _layout_tokens(spark, sf_dir),
        _part_name_terms(spark, sf_dir, 0),
        nation,
    )


_FT_ORACLE = (
    "WITH "
    + _TOKENS_CTE
    + ", "
    + _LTOKENS_CTE
    + f""",
    linestart AS (
        SELECT doc_id, line_id, x AS line_x, width / len(text) AS char_w
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id, line_id ORDER BY token_seq) AS rn
            FROM lt
        )
        WHERE rn = 1 AND x IS NOT NULL AND len(text) > 0
    ),
    flips AS (
        SELECT doc_id, line_id,
               CASE WHEN line_x - lag(line_x) OVER w > char_w THEN TRUE
                    WHEN lag(line_x) OVER w - line_x > char_w THEN FALSE
               END AS flip
        FROM linestart
        WINDOW w AS (PARTITION BY doc_id ORDER BY line_id)
    ),
    ind AS (
        SELECT doc_id, line_id,
               COALESCE(last_value(flip IGNORE NULLS) OVER (
                   PARTITION BY doc_id ORDER BY line_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   FALSE) AS is_indented
        FROM flips
    ),
    tokf AS (
        SELECT lt.*, ind.is_indented,
               row_number() OVER wl - 1 AS tok_idx,
               count(*) OVER wla AS tok_cnt,
               dense_rank() OVER (
                   PARTITION BY lt.doc_id, block_id ORDER BY lt.line_id
               ) - 1 AS line_idx,
               lag(token_seq) OVER wd AS prev_seq,
               lag(font_family) OVER wd AS prev_family,
               lag(font_size) OVER wd AS prev_size
        FROM lt JOIN ind ON lt.doc_id = ind.doc_id
                        AND lt.line_id = ind.line_id
        WINDOW wl AS (PARTITION BY lt.doc_id, lt.line_id ORDER BY token_seq),
               wla AS (PARTITION BY lt.doc_id, lt.line_id),
               wd AS (PARTITION BY lt.doc_id ORDER BY token_seq)
    ),
    tokf2 AS (
        SELECT *, max(line_idx + 1) OVER (
                   PARTITION BY doc_id, block_id) AS line_cnt
        FROM tokf
    ),
    stat AS (
        SELECT *,
               CASE WHEN tok_idx = 0 THEN 'LINESTART'
                    WHEN tok_idx = tok_cnt - 1 THEN 'LINEEND'
                    ELSE 'LINEIN' END AS line_status
        FROM tokf2
    ),
    feat AS (
        SELECT doc_id, block_id, line_id, token_seq,
               {_SQL_PREFIX_SUFFIX},
               CASE WHEN line_idx = 0 AND line_status = 'LINESTART'
                        THEN 'BLOCKSTART'
                    WHEN line_idx = line_cnt - 1
                         AND line_status = 'LINEEND' THEN 'BLOCKEND'
                    ELSE 'BLOCKIN' END AS block_status,
               line_status,
               CASE WHEN is_indented THEN 'LINEINDENT'
                    ELSE 'ALIGNEDLEFT' END AS alignment_status,
               CASE WHEN prev_seq IS NULL THEN 'NEWFONT'
                    WHEN font_family IS NOT DISTINCT FROM prev_family
                        THEN 'SAMEFONT'
                    ELSE 'NEWFONT' END AS font_status,
               CASE WHEN prev_seq IS NULL OR prev_size IS NULL
                         OR prev_size = 0.0 OR font_size IS NULL
                         OR font_size = 0.0 OR prev_size < font_size
                        THEN 'HIGHERFONT'
                    WHEN prev_size > font_size THEN 'LOWERFONT'
                    ELSE 'SAMEFONTSIZE' END AS font_size_status,
               CASE WHEN is_bold THEN '1' ELSE '0' END AS is_bold,
               CASE WHEN is_italics THEN '1' ELSE '0' END AS is_italic,
               {_SQL_CAP_DIGIT},
               {_SQL_PUNCT_TYPE},
               CASE WHEN is_superscript THEN '1' ELSE '0' END
                   AS is_superscript
        FROM stat
    )
    SELECT *,
           concat_ws(' ', token_text, lower_token_text,
               prefix_1, prefix_2, prefix_3, prefix_4,
               suffix_1, suffix_2, suffix_3, suffix_4,
               block_status, line_status, alignment_status,
               font_status, font_size_status, is_bold, is_italic,
               cap_status, digit_status, is_single_char, punct_type,
               '0', '0', '0', 'UNKNOWN', '0', is_superscript) AS data_line
    FROM feat
    """
)


@register(
    "q109_fulltext_token_features",
    oracle=_FT_ORACLE,
    survey_ref="§2A A7 fulltext data generator — 27-feature token vector "
               "(models/fulltext/data.py:10-43; shared by figure/table "
               "models per models/figure/model.py get_data_generator)",
    doc="The fulltext-model CRF input: 27 features per token with the "
        "LINESTART-priority line/block status variants, alignment status, "
        "font lag features, callout dummies and the superscript flag.",
)
def q109_fulltext_token_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        fulltext_token_features,
    )

    return fulltext_token_features(_layout_tokens(spark, sf_dir))


@register(
    "q113_training_data_exact",
    oracle="WITH hdr AS (" + _HDR_ORACLE + """)
    SELECT doc_id, token_seq,
           data_line || ' ' ||
           CASE WHEN regexp_matches(token_text, '^[0-9]+$')
                THEN 'I-<pubnum>' ELSE 'I-<title>' END AS data_line
    FROM hdr
    """,
    survey_ref="§2A A30 training-data generation with the exact header "
               "vector (training/cli/generate_data.py --use-model path)",
    doc="The A30 ETL over the exact per-model generator dispatch: header "
        "32-feature data_line + appended mock label (numeric → <pubnum>, "
        "else <title>) — one concat_ws projection over the q103 relation; "
        "the oracle nests the header-vector oracle as a CTE and restates "
        "the label join.",
)
def q113_training_data_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.plans.training_data import (
        generate_exact_model_data_lines,
    )

    toks = _layout_tokens(spark, sf_dir)
    labels = toks.select(
        "doc_id",
        "token_seq",
        F.lit("header").alias("model_name"),
        F.when(F.col("text").rlike("^[0-9]+$"), "I-<pubnum>")
        .otherwise("I-<title>")
        .alias("label"),
    )
    return generate_exact_model_data_lines(toks, "header", labels=labels)


# ---------------------------------------------------------------------------
# q114 — ALTO XML round-trip (A2 source)
# ---------------------------------------------------------------------------

@register(
    "q114_alto_roundtrip",
    oracle="WITH " + _TOKENS_CTE + ", " + _LTOKENS_CTE + """
    SELECT 'd' || doc_id AS doc_id,
           page_number + 1 AS page_number,
           block_id + 1 AS block_id,
           line_id + 1 AS line_id,
           token_seq - 1 AS token_seq,
           text,
           's' || (block_id % 3) AS font_id,
           'fam' || (block_id % 3) AS font_family,
           CAST(8 + block_id % 3 AS DOUBLE) AS font_size,
           block_id % 3 = 0 AS is_bold,
           x, width
    FROM lt
    """,
    survey_ref="§2A A2 ALTO XML parse (external/pdfalto/parser.py:30-173); "
               "§2B XML parse via UDF + explode",
    doc="Source round-trip: ALTO v3 XML is BUILT per document with pure "
        "string aggregation (tokens → String/TextLine/TextBlock/Page, "
        "escaped, Styles header with 3 TextStyles), then parsed back by "
        "the mapInPandas ALTO kernel. The oracle predicts the parser's "
        "output directly from the token fixture: surrogate block/line/"
        "token ids re-minted in traversal order (SURVEY §1.4), fonts "
        "joined via STYLEREFS inside the kernel.",
)
def q114_alto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.sources.alto import parse_alto_tokens_df

    lt = _layout_tokens(spark, sf_dir)
    esc = F.col("text")
    for raw, rep in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")):
        esc = F.replace(esc, F.lit(raw), F.lit(rep))
    token_xml = F.concat(
        F.lit('<String CONTENT="'), esc,
        F.lit('" STYLEREFS="s'), (F.col("block_id") % 3).cast("string"),
        F.lit('" HPOS="'), F.col("x").cast("string"),
        F.lit('" VPOS="0.0" WIDTH="'), F.col("width").cast("string"),
        F.lit('" HEIGHT="10.0"/>'),
    )
    toks = lt.select(
        "doc_id",
        F.struct(
            "page_number", "block_id", "line_id", "token_seq",
            token_xml.alias("tok_xml"),
        ).alias("t"),
    )
    styles = "".join(
        f'<TextStyle ID="s{i}" FONTFAMILY="fam{i}" FONTSIZE="{8 + i}"'
        f' FONTSTYLE="{"bold" if i == 0 else ""}"/>'
        for i in range(3)
    )
    # ONE shuffle instead of four: the former shape aggregated
    # line -> block -> page -> doc through four chained groupBys (each an
    # exchange on a narrowing key). Nesting is a property of the SORTED
    # token sequence — lexicographic (page, block, line, seq) order IS
    # the hierarchical traversal — so the whole document serializes from
    # a single per-doc collect: each token contributes closing/opening
    # tags exactly where its (page, block, line) differs from its
    # predecessor. Byte-identical XML, 1 exchange, 1 aggregation stage.
    arr = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("t")).alias("ts")
    )

    def open_page(t):
        return F.concat(
            F.lit('<Page PHYSICAL_IMG_NR="'),
            (t["page_number"] + 1).cast("string"),
            F.lit('" WIDTH="612.0" HEIGHT="792.0"><TextBlock><TextLine>'),
        )

    def frag(i):
        cur = F.col("ts")[i]
        prev = F.col("ts")[i - 1]
        boundary = (
            F.when(
                i == 0, open_page(cur)
            )
            .when(
                prev["page_number"] != cur["page_number"],
                F.concat(
                    F.lit("</TextLine></TextBlock></Page>"), open_page(cur)
                ),
            )
            .when(
                prev["block_id"] != cur["block_id"],
                F.lit("</TextLine></TextBlock><TextBlock><TextLine>"),
            )
            .when(
                prev["line_id"] != cur["line_id"],
                F.lit("</TextLine><TextLine>"),
            )
            .otherwise(F.lit(""))
        )
        return F.concat(boundary, cur["tok_xml"])

    idx = F.sequence(F.lit(0), F.size("ts") - 1)
    docs_xml = arr.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.concat(
            F.lit(
                '<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">'
                f"<Styles>{styles}</Styles><Layout>"
            ),
            F.array_join(F.transform(idx, frag), ""),
            F.lit("</TextLine></TextBlock></Page></Layout></alto>"),
        ).alias("xml"),
    )
    parsed = parse_alto_tokens_df(docs_xml)
    return parsed.select(
        "doc_id", "page_number", "block_id", "line_id", "token_seq",
        "text", "font_id", "font_family", "font_size", "is_bold",
        "x", "width",
    )


@register(
    "q116_model_protocol",
    oracle="WITH " + _TOKENS_CTE + """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           token_seq,
           'mock_crf' AS model_name,
           CASE WHEN row_number() OVER (
                    PARTITION BY doc_id ORDER BY token_seq) = 1
                THEN 'B-<start>'
                WHEN regexp_matches(token, '^[0-9]+$') THEN 'I-<num>'
                ELSE 'I-<word>' END AS label
    FROM tokens
    """,
    survey_ref="§2A A11/A12 model protocol — per-document pandas inference "
               "(utils.map_documents) with batch assembly/alignment "
               "(models/model.py:207-355, model_impl.py)",
    doc="The sequence-labeling stage end-to-end through "
        "FunctionLabelModel: utils.map_documents replaces the reference's "
        "manual blank-line batch protocol (many documents per Python "
        "pass, each handed over sorted by token_seq, since order doesn't "
        "survive shuffles), and the model enforces the "
        "one-label-per-token alignment assert. The mock CRF is "
        "position+shape-deterministic, so the oracle restates it as "
        "window SQL — the protocol plumbing is what's under test.",
)
def q116_model_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.plans.models import (
        FunctionLabelModel,
        apply_model,
    )

    toks = (
        _tokens(spark, sf_dir)
        .withColumnRenamed("token", "text")
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )

    def mock_crf(texts):
        return [
            "B-<start>" if i == 0
            else ("I-<num>" if t.isdigit() else "I-<word>")
            for i, t in enumerate(texts)
        ]

    return apply_model(toks, FunctionLabelModel("mock_crf", mock_crf))


@register(
    "q156_weight_model_labels",
    # The weight table makes the argmax decode collapse to this CASE:
    # alldigit => <pubnum> wins (10 > title's max 6 > body's max 3.5);
    # else first3 => <title> (>= 6 beats body's <= 3.5);
    # else => <body> (>= 2 beats title's 1). BIO prefix = B- on tag
    # change (lag window), I- inside a run.
    oracle="WITH " + _TOKENS_CTE + """,
    decoded AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, token_seq,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN '<pubnum>'
                    WHEN token_seq <= 3 THEN '<title>'
                    ELSE '<body>' END AS tag
        FROM tokens
    )
    SELECT doc_id, token_seq, 'weight_header' AS model_name,
           CASE WHEN lag(tag) OVER w IS NULL OR tag <> lag(tag) OVER w
                THEN 'B-' ELSE 'I-' END || tag AS label
    FROM decoded
    WINDOW w AS (PARTITION BY doc_id ORDER BY token_seq)
    """,
    survey_ref="§2A A11 sequence labeling with a REAL (non-injected) model: "
               "weight-table artifact distributed via addFile, lazy "
               "executor-singleton load, linear scoring + BIO decode "
               "(models/wapiti_model_impl.py:25-164 protocol; "
               "utils/lazy.py LazyLoaded)",
    doc="A genuine model-artifact path: the JSON weight table is written "
        "by the driver, shipped to executors with SparkContext.addFile, "
        "loaded once per Python worker through the executor-singleton "
        "registry, and scored per token (feature-weight sums, argmax, "
        "BIO prefixes). Deterministic weights make the decode "
        "SQL-restatable, so unlike q116 (injected function) this "
        "exercises distribution + lazy load + real scoring under a full "
        "oracle. The Viterbi decode mode of the same model class is "
        "unit-tested against brute-force enumeration.",
)
def q156_weight_model_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.plans.models import (
        WeightTableLabelModel,
        apply_model,
    )

    toks = (
        _tokens(spark, sf_dir)
        .withColumnRenamed("token", "text")
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    model = WeightTableLabelModel.distribute(
        spark,
        "weight_header",
        weights={
            "<title>": {"bias": 1.0, "first3": 5.0},
            "<pubnum>": {"alldigit": 10.0},
            "<body>": {"bias": 2.0, "len5": 1.5},
        },
    )
    return apply_model(toks, model)


@register(
    "q117_model_json_output",
    oracle="WITH " + _TOKENS_CTE + """,
    labeled AS (
        SELECT doc_id, token_seq, token,
               CASE WHEN row_number() OVER (
                        PARTITION BY doc_id ORDER BY token_seq) = 1
                    THEN 'B-<start>'
                    WHEN regexp_matches(token, '^[0-9]+$') THEN 'I-<num>'
                    ELSE 'I-<word>' END AS label
        FROM tokens
    ),
    agg AS (
        SELECT doc_id,
               list(token ORDER BY token_seq) AS tokens,
               list(label ORDER BY token_seq) AS labels
        FROM labeled GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(to_json(struct_pack(doc_id := doc_id, tokens := tokens,
                                    labels := labels)) AS VARCHAR)
               AS payload
    FROM agg
    """,
    survey_ref="§2B JSON generation (to_json); §3.3 per-model REST "
               "endpoint TagOutputFormats.JSON "
               "(service/api/routers/models.py:52-59)",
    doc="The model-endpoint JSON payload: per doc, ordered token and "
        "label arrays serialized with to_json(struct(...)) — the response "
        "body of the reference's per-model REST API, produced engine-side "
        "as one aggregation + one projection.",
)
def q117_model_json_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("token_seq")
    labeled = toks.select(
        "doc_id",
        "token_seq",
        "token",
        F.when(F.row_number().over(w) == 1, "B-<start>")
        .when(F.col("token").rlike("^[0-9]+$"), "I-<num>")
        .otherwise("I-<word>")
        .alias("label"),
    )
    sorted_pairs = F.array_sort(
        F.collect_list(F.struct("token_seq", "token", "label"))
    )
    agg = labeled.groupBy("doc_id").agg(
        F.transform(sorted_pairs, lambda s: s["token"]).alias("tokens"),
        F.transform(sorted_pairs, lambda s: s["label"]).alias("labels"),
    )
    return agg.select(
        "doc_id",
        F.to_json(F.struct("doc_id", "tokens", "labels")).alias("payload"),
    )


@register(
    "q118_media_type_gate",
    oracle="""
    WITH src AS (
        SELECT doc_id,
               CASE doc_id % 5
                   WHEN 0 THEN 'application/pdf'
                   WHEN 1 THEN 'application/msword'
                   WHEN 2 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
                   WHEN 3 THEN 'application/rtf'
                   ELSE 'image/png' END AS media_type
        FROM documents
    )
    SELECT media_type,
           CASE WHEN media_type = 'application/pdf' THEN 'passthrough'
                WHEN media_type IN ('application/msword',
                    'application/vnd.openxmlformats-officedocument.wordprocessingml.document',
                    'application/vnd.openxmlformats-officedocument.wordprocessingml.template',
                    'application/rtf') THEN 'convert'
                ELSE 'unsupported' END AS conversion,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM src
    GROUP BY 1, 2
    """,
    survey_ref="§2A A3 DOC/DOCX→PDF conversion gate "
               "(app/parser.py:460-483, DOC_TO_PDF_SUPPORTED_MEDIA_TYPES)",
    doc="The media-type routing gate in front of the LibreOffice sidecar: "
        "PDF passes through, office formats route to conversion, anything "
        "else is rejected as unsupported — a when/isin projection (the "
        "sidecar itself is the stubbed mapInPandas kernel in "
        "sources/doc_converter.py).",
)
def q118_media_type_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.sources.doc_converter import (
        classify_sources,
    )

    docs = table(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id",
        F.element_at(
            F.array(
                F.lit("application/pdf"),
                F.lit("application/msword"),
                F.lit(
                    "application/vnd.openxmlformats-officedocument"
                    ".wordprocessingml.document"
                ),
                F.lit("application/rtf"),
                F.lit("image/png"),
            ),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("media_type"),
    )
    return (
        classify_sources(src)
        .groupBy("media_type", "conversion")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "q121_alto_graphics_roundtrip",
    oracle="WITH " + _TOKENS_CTE + ", " + _LTOKENS_CTE + """,
    pages AS (SELECT DISTINCT doc_id, page_number FROM lt),
    g AS (
        SELECT doc_id, page_number, i
        FROM pages, unnest(range(0, 2)) AS t(i)
    )
    SELECT 'd' || doc_id AS doc_id,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY page_number, i) - 1 AS BIGINT)
               AS graphic_id,
           page_number + 1 AS page_number,
           CAST(10 * page_number + 5 * i AS DOUBLE) AS x,
           5.0 AS y,
           100.0 AS width,
           50.0 AS height,
           CASE WHEN i = 0 THEN 'bitmap' ELSE 'svg' END AS graphic_type,
           'img_' || page_number || '_' || i AS local_file_path
    FROM g
    """,
    survey_ref="§2A A2 ALTO graphics parse (Illustration elements, "
               "external/pdfalto/parser.py + processors/graphic_provider)",
    doc="Graphics half of the ALTO source round-trip: Illustration "
        "elements are built per page (two per page, bitmap+svg, "
        "deterministic coords/FILEID), parsed back by the graphics "
        "kernel; graphic_id re-minted 0-based per document in page order.",
)
def q121_alto_graphics_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.sources.alto import parse_alto_graphics_df

    lt = _layout_tokens(spark, sf_dir)
    pages = lt.select("doc_id", "page_number").distinct()
    page_xml = pages.select(
        "doc_id",
        "page_number",
        F.concat(
            F.lit('<Page PHYSICAL_IMG_NR="'),
            (F.col("page_number") + 1).cast("string"),
            F.lit('">'),
            *[
                F.concat(
                    F.lit('<Illustration TYPE="'),
                    F.lit("bitmap" if i == 0 else "svg"),
                    F.lit('" FILEID="img_'),
                    F.col("page_number").cast("string"),
                    F.lit(f'_{i}" HPOS="'),
                    (10 * F.col("page_number") + 5 * i).cast("double").cast("string"),
                    F.lit('" VPOS="5.0" WIDTH="100.0" HEIGHT="50.0"/>'),
                )
                for i in (0, 1)
            ],
            F.lit("</Page>"),
        ).alias("page_xml"),
    )
    docs_xml = page_xml.groupBy("doc_id").agg(
        F.concat(
            F.lit('<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#"><Layout>'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_number", "page_xml"))),
                    lambda s: s["page_xml"],
                ),
                "",
            ),
            F.lit("</Layout></alto>"),
        ).alias("xml"),
    ).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        "xml",
    )
    parsed = parse_alto_graphics_df(docs_xml)
    return parsed.select(
        "doc_id", "graphic_id", "page_number", "x", "y", "width", "height",
        "graphic_type", "local_file_path",
    )


@register(
    "q159_pdf_alto_sidecar",
    # the binaryFile scan mints doc_id from the file stem ('d<id>.pdf');
    # the fake pdfalto kernel lays the first 20 words on one line at
    # x = 10*i, width 8; the ALTO parser re-mints ids in traversal order
    # (token_seq 0-based, page/block/line 1-based).
    oracle="WITH " + _TOKENS_CTE + """
    SELECT 'd' || doc_id AS doc_id,
           1 AS page_number, 1 AS block_id, 1 AS line_id,
           token_seq - 1 AS token_seq,
           token AS text,
           CAST((token_seq - 1) * 10 AS DOUBLE) AS x,
           CAST(8 AS DOUBLE) AS width
    FROM tokens WHERE token_seq <= 20
    """,
    survey_ref="§2A A1 PDF→ALTO scan end-to-end (external/pdfalto/"
               "wrapper.py sidecar protocol; app/parser.py:485-493): "
               "binaryFile scan → executor-singleton sidecar kernel → "
               "A2 ALTO parse",
    doc="The full A1 ingest path with a REAL binaryFile scan over fake "
        "PDF files written by foreachPartition, the pdfalto sidecar "
        "executed through the executor-singleton mapInPandas protocol "
        "(deterministic fake kernel; the binary is absent in-sandbox), "
        "and the ALTO kernel parsing the result back to the tokens "
        "relation — every stage of the ingest pipeline under one oracle. "
        "Contract: the corpus dir must be shared storage on a real "
        "cluster (executors write the fixture files, the scan lists "
        "them); local[] satisfies this trivially.",
)
def q159_pdf_alto_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from sciencebeam_parser_spark.sources.alto import parse_alto_tokens_df
    from sciencebeam_parser_spark.sources.pdf import (
        pdf_to_alto,
        read_pdf_corpus,
    )

    docs = table(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    corpus_dir = scratch_dir(spark, "pdf", sf_dir)
    # fixture SETUP (not a result): the source-file corpus is immutable
    # per (session, sf_dir) — writing its 5000 files once per session
    # instead of once per build saves a full foreachPartition pass when
    # q159 and q290 both ingest in one run (the _SUCCESS-style marker is
    # written only after the write completes, so a half-written corpus
    # from a crashed build is rewritten, never trusted)
    marker = os.path.join(corpus_dir, "_CORPUS_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        os.makedirs(corpus_dir, exist_ok=True)

        def write_partition(rows) -> None:
            for row in rows:
                path = os.path.join(corpus_dir, f"{row['doc_id']}.pdf")
                with open(path, "wb") as f:
                    f.write(bytes(row["content"]))

        docs.foreachPartition(write_partition)
        with open(marker, "w", encoding="utf-8") as f:
            f.write("ok")

    def fake_pdfalto(content: bytes) -> bytes:
        # deterministic sidecar stand-in: first 20 words on one text line
        from xml.sax.saxutils import escape

        words = bytes(content).decode("utf-8").split()[:20]
        strings = "".join(
            f'<String CONTENT="{escape(w, {chr(34): "&quot;"})}"'
            f' HPOS="{10.0 * i}" VPOS="0.0" WIDTH="8.0" HEIGHT="10.0"/>'
            for i, w in enumerate(words)
        )
        xml = (
            '<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">'
            "<Layout><Page PHYSICAL_IMG_NR=\"1\">"
            f"<TextBlock><TextLine>{strings}</TextLine></TextBlock>"
            "</Page></Layout></alto>"
        )
        return xml.encode("utf-8")

    pdfs = read_pdf_corpus(spark, corpus_dir)
    alto = pdf_to_alto(pdfs, pdfalto_fn=fake_pdfalto)
    parsed = parse_alto_tokens_df(alto, xml_col="alto_xml")
    return parsed.select(
        "doc_id", "page_number", "block_id", "line_id", "token_seq",
        "text", "x", "width",
    )


@register(
    "q160_doc_convert_pipeline",
    # media types round-robin by doc key; office docs pass through the
    # fake LibreOffice kernel (prepends the %PDF marker), PDFs pass
    # through untouched; both end application/pdf.
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           'application/pdf' AS media_type,
           CASE WHEN doc_id % 3 = 0 THEN 'passthrough'
                ELSE 'convert' END AS conversion,
           md5(CASE WHEN doc_id % 3 = 0 THEN text
                    ELSE '%PDF-fake ' || text END) AS content_md5
    FROM documents
    """,
    survey_ref="§2A A3 DOC/DOCX→PDF conversion end-to-end "
               "(transformers/doc_converter_wrapper.py:98-287 LibreOffice "
               "listener; gate app/parser.py:460-483)",
    doc="The A3 conversion pipeline under oracle: media-type routing "
        "(passthrough / convert / unsupported), the LibreOffice sidecar "
        "executed through mapInPandas with a deterministic fake kernel "
        "(binary absent in-sandbox), and the converted bytes verified by "
        "digest — the gate, the sidecar protocol, and the byte "
        "transformation all checked.",
)
def q160_doc_convert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.sources.doc_converter import convert_to_pdf

    docs = table(spark, sf_dir, "documents")
    sources = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, "application/pdf")
        .when(
            F.col("doc_id") % 3 == 1,
            "application/vnd.openxmlformats-officedocument"
            ".wordprocessingml.document",
        )
        .otherwise("application/rtf")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
    )
    converted = convert_to_pdf(
        sources, converter_fn=lambda b: b"%PDF-fake " + bytes(b)
    )
    return converted.select(
        "doc_id",
        "media_type",
        "conversion",
        F.md5("content").alias("content_md5"),
    )
