"""Citation → target fuzzy matching (SURVEY §2A A20) as an oracle-checked
query.

The fixture derives, per document, three targets (token chunks of 6,
content ids b0/b1/b2) and four citations exercising the matcher chain:
an exact copy (stage 1), an uppercased+punctuated copy (stage 1 via
normalization), a token-prefix form (stage 2), and a half-and-half mix
(stage 3 plurality vote / tie→null). Both engines implement the full
ref_matching.py chain; the oracle replicates every key function in DuckDB
SQL, including the delimiter tokenization (RE2-safe alternation — RE2
rejects backslash-escaped unicode, so the oracle pattern escapes only
ASCII specials; semantics identical to the Java-regex pattern Spark uses).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.operators.ref_matching import (
    _DELIMITERS,
    match_content_ids,
)
from sciencebeam_parser_spark.queries.docpipe import _TOKENS_CTE, _tokens
from sciencebeam_parser_spark.queries.registry import register, table

_RE2_SPECIALS = set("\\^$.|?*+()[]{}")
_RE2_DELIM_ALTERNATION = (
    "("
    + "|".join(("\\" + c if c in _RE2_SPECIALS else c) for c in _DELIMITERS)
    + "|\\s)"
)

# DuckDB key-function macros (nk = normalized key; pk = token-prefix key;
# toks = delimiter tokenization keeping punctuation tokens, normalized)
_NK = "regexp_replace(lower({x}), '[^a-z0-9]', '', 'g')"
_PK = (
    "array_to_string([regexp_replace(lower("
    "CASE WHEN regexp_matches(t, '[0-9]') THEN t ELSE t[1:1] END"
    "), '[^a-z0-9]', '', 'g') FOR t IN string_split_regex({x}, '\\s')], '')"
)
# comprehension-IF instead of a list_filter arrow lambda (deprecated in
# newer DuckDB) — identical semantics
_TOKS = (
    "[regexp_replace(lower(t), '[^a-z0-9]', '', 'g') FOR t IN "
    "string_split(regexp_replace({x}, "
    "'" + _RE2_DELIM_ALTERNATION.replace("'", "''") + "', "
    "chr(1) || '\\1' || chr(1), 'g'), chr(1)) IF trim(t) <> '']"
)

_FIXTURE_SQL = (
    "WITH "
    + _TOKENS_CTE
    + """,
    chunked AS (
        SELECT doc_id, CAST((token_seq - 1) // 6 AS INT) AS chunk,
               token_seq, token
        FROM tokens WHERE token_seq <= 18
    ),
    targets AS (
        SELECT doc_id, 'b' || chunk AS content_id, chunk AS target_seq,
               string_agg(token, ' ' ORDER BY token_seq) AS text,
               list(token ORDER BY token_seq) AS toks
        FROM chunked GROUP BY doc_id, chunk
    ),
    citations AS (
        SELECT doc_id, 'exact' AS citation_id, text
        FROM targets WHERE content_id = 'b1'
        UNION ALL
        SELECT doc_id, 'punct', upper(text) || ' ,'
        FROM targets WHERE content_id = 'b0'
        UNION ALL
        SELECT doc_id, 'prefix',
               array_to_string([CASE WHEN regexp_matches(t, '[0-9]')
                                     THEN t ELSE t[1:1] END
                                FOR t IN toks], ' ')
        FROM targets WHERE content_id = 'b2'
        UNION ALL
        SELECT a.doc_id, 'mix',
               array_to_string(a.toks[1:3], ' ') || ' '
               || array_to_string(b.toks[4:6], ' ')
        FROM targets a JOIN targets b
          ON a.doc_id = b.doc_id AND a.content_id = 'b0' AND b.content_id = 'b1'
    )
"""
)


def _oracle_sql() -> str:
    nk_t = _NK.format(x="text")
    pk_t = _PK.format(x="text")
    toks_t = _TOKS.format(x="text")
    return _FIXTURE_SQL + f""",
    t1 AS (
        SELECT doc_id, _key, content_id FROM (
            SELECT doc_id, {nk_t} AS _key, content_id,
                   row_number() OVER (
                       PARTITION BY doc_id, {nk_t}
                       ORDER BY target_seq DESC) AS rn
            FROM targets
        ) WHERE rn = 1 AND len(_key) > 0
    ),
    m1 AS (
        SELECT c.doc_id, c.citation_id, t.content_id AS target_content_id
        FROM citations c JOIN t1 t
          ON c.doc_id = t.doc_id AND {_NK.format(x="c.text")} = t._key
    ),
    rem1 AS (
        SELECT c.* FROM citations c
        LEFT JOIN m1 ON c.doc_id = m1.doc_id AND c.citation_id = m1.citation_id
        WHERE m1.citation_id IS NULL
    ),
    t2 AS (
        SELECT doc_id, _key, content_id FROM (
            SELECT doc_id, {pk_t} AS _key, content_id,
                   row_number() OVER (
                       PARTITION BY doc_id, {pk_t}
                       ORDER BY target_seq DESC) AS rn
            FROM targets
        ) WHERE rn = 1 AND len(_key) > 0
    ),
    m2 AS (
        SELECT c.doc_id, c.citation_id, t.content_id AS target_content_id
        FROM rem1 c JOIN t2 t
          ON c.doc_id = t.doc_id AND {_PK.format(x="c.text")} = t._key
    ),
    rem2 AS (
        SELECT c.* FROM rem1 c
        LEFT JOIN m2 ON c.doc_id = m2.doc_id AND c.citation_id = m2.citation_id
        WHERE m2.citation_id IS NULL
    ),
    tgt_tokens AS (
        SELECT doc_id, content_id, unnest({toks_t}) AS tok FROM targets
    ),
    cit_tokens AS (
        SELECT doc_id, citation_id, unnest({toks_t}) AS tok FROM rem2
    ),
    votes AS (
        SELECT c.doc_id, c.citation_id, t.content_id,
               count(*) AS n_votes
        FROM cit_tokens c
        JOIN tgt_tokens t ON c.doc_id = t.doc_id AND c.tok = t.tok
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY doc_id, citation_id
                   ORDER BY n_votes DESC, content_id ASC) AS rn,
               max(n_votes) OVER (PARTITION BY doc_id, citation_id) AS max_v
        FROM votes
    ),
    tied AS (
        SELECT doc_id, citation_id, count(*) AS n_top
        FROM ranked WHERE n_votes = max_v GROUP BY 1, 2
    ),
    m3 AS (
        SELECT r.doc_id, r.citation_id, r.content_id AS target_content_id
        FROM ranked r JOIN tied ON r.doc_id = tied.doc_id
                              AND r.citation_id = tied.citation_id
        WHERE r.rn = 1 AND tied.n_top = 1
    ),
    matched AS (
        SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
    )
    SELECT c.doc_id, c.citation_id, m.target_content_id
    FROM citations c
    LEFT JOIN matched m
      ON c.doc_id = m.doc_id AND c.citation_id = m.citation_id
    """


@register(
    "q97_citation_matching",
    oracle=_oracle_sql(),
    survey_ref="§2A A20 citation→target fuzzy matching chain "
               "(ref_matching.py:44-105)",
    doc="The three-stage matcher over per-doc targets: exact normalized key "
        "→ token-prefix key → bag-of-tokens plurality vote with tie→null, "
        "first hit wins. Citations and targets co-locate by doc_id in one "
        "shuffle, then one pandas pass runs the chain over per-document "
        "dicts and a token index — no cross joins at any scale.",
)
def q97_citation_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    citations, targets = _q97_fixture(spark, sf_dir)
    return match_content_ids(
        citations, targets.select("doc_id", "content_id", "text", "target_seq")
    )


def _q97_fixture(spark: SparkSession, sf_dir: str):
    """The q97 citations/targets fixture (also used by perf probes)."""
    toks = _tokens(spark, sf_dir).filter(F.col("token_seq") <= 18)
    chunked = toks.withColumn(
        "chunk", ((F.col("token_seq") - 1) / 6).cast("int")
    )
    targets = chunked.groupBy("doc_id", "chunk").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token_seq", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("token_seq", "token"))),
            lambda s: s["token"],
        ).alias("toks"),
    ).select(
        "doc_id",
        F.concat(F.lit("b"), F.col("chunk")).alias("content_id"),
        F.col("chunk").alias("target_seq"),
        "text",
        "toks",
    ).localCheckpoint(eager=False)
    # targets (a groupBy over the tokens explode) is embedded once per
    # citation branch below (b0 twice, b1 twice, b2 once) plus once as the
    # target side, and the matcher consumes each input relation 2-3 times —
    # without the checkpoint the plan holds 50+ copies of the scan subtree
    # (BroadcastExchange build sides defeat ReuseExchange, the q132
    # pathology).
    prefixed = F.array_join(
        F.transform(
            F.col("toks"),
            lambda t: F.when(t.rlike("[0-9]"), t).otherwise(F.substring(t, 1, 1)),
        ),
        " ",
    )
    b0 = targets.filter(F.col("content_id") == "b0")
    b1 = targets.filter(F.col("content_id") == "b1")
    b2 = targets.filter(F.col("content_id") == "b2")
    citations = (
        b1.select("doc_id", F.lit("exact").alias("citation_id"), "text")
        .unionByName(
            b0.select(
                "doc_id",
                F.lit("punct").alias("citation_id"),
                F.concat(F.upper("text"), F.lit(" ,")).alias("text"),
            )
        )
        .unionByName(
            b2.select(
                "doc_id", F.lit("prefix").alias("citation_id"),
                prefixed.alias("text"),
            )
        )
        .unionByName(
            b0.alias("a")
            .join(b1.alias("b"), "doc_id")
            .select(
                "doc_id",
                F.lit("mix").alias("citation_id"),
                F.concat_ws(
                    " ",
                    F.array_join(F.slice(F.col("a.toks"), 1, 3), " "),
                    F.array_join(F.slice(F.col("b.toks"), 4, 3), " "),
                ).alias("text"),
            )
        )
    ).localCheckpoint(eager=False)
    return citations, targets


_RETOK_ALT_SQL = _RE2_DELIM_ALTERNATION.replace("'", "''")


@register(
    "q101_retokenize",
    oracle="WITH "
    + _TOKENS_CTE
    + f""",
    src AS (
        SELECT doc_id, token_seq AS src_seq, token,
               (token_seq * 10.0) AS x, 8.0 AS width,
               [p FOR p IN string_split(regexp_replace(token,
                   '{_RETOK_ALT_SQL}', chr(1) || '\\1' || chr(1), 'g'),
                   chr(1)) IF len(p) > 0] AS pieces
        FROM tokens WHERE trim(token) <> ''
    ),
    exploded AS (
        SELECT doc_id, src_seq, token, x, width,
               unnest(pieces) AS piece,
               unnest(range(1, len(pieces) + 1)) AS pos,
               CAST(list_sum([len(p) FOR p IN pieces]) AS BIGINT) AS total_len
        FROM src
    ),
    with_offsets AS (
        SELECT *,
               sum(len(piece)) OVER (
                   PARTITION BY doc_id, src_seq ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - len(piece) AS piece_offset
        FROM exploded
    ),
    kept AS (SELECT * FROM with_offsets WHERE trim(piece) <> '')
    SELECT doc_id,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY src_seq, pos) - 1 AS BIGINT)
               AS token_seq,
           piece AS text,
           round(x + width * piece_offset / total_len, 6) AS x,
           round(width * len(piece) / total_len, 6) AS width
    FROM kept
    """,
    survey_ref="§2A A4 re-tokenize with coordinate interpolation "
               "(layout_document.py:136-212); §2B UDTF/explode",
    doc="Delimiter re-tokenization: each source token fence-splits on the "
        "reference's delimiter set (punctuation kept as tokens), width "
        "distributed proportionally to char offsets "
        "(get_relative_coordinates), token_seq re-minted in document order. "
        "Pure explode + window SQL — whole-stage codegen, no UDF.",
)
def q101_retokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.retokenize import retokenize_tokens

    toks = _tokens(spark, sf_dir)
    f1 = toks.select(
        "doc_id",
        "token_seq",
        F.col("token").alias("text"),
        F.lit(" ").alias("whitespace"),
        F.lit(0).alias("page_number"),
        F.lit(0).alias("block_id"),
        (F.col("token_seq") / 8).cast("long").alias("line_id"),
        F.lit(None).cast("string").alias("font_id"),
        F.lit(None).cast("string").alias("font_family"),
        F.lit(None).cast("double").alias("font_size"),
        F.lit(None).cast("boolean").alias("is_bold"),
        F.lit(None).cast("boolean").alias("is_italics"),
        F.lit(None).cast("boolean").alias("is_subscript"),
        F.lit(None).cast("boolean").alias("is_superscript"),
        (F.col("token_seq") * 10.0).alias("x"),
        F.lit(0.0).alias("y"),
        F.lit(8.0).alias("width"),
        F.lit(10.0).alias("height"),
        F.lit(612.0).alias("page_width"),
        F.lit(792.0).alias("page_height"),
    )
    out = retokenize_tokens(f1, normalize=False)
    return out.select(
        "doc_id",
        "token_seq",
        "text",
        F.round("x", 6).alias("x"),
        F.round("width", 6).alias("width"),
    )
