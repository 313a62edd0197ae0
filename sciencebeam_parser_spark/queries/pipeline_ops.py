"""Full document-pipeline surfaces: the cascade (A28), stateful grammars
(A16), TEI/JATS sinks (A29), gazetteer membership (A7 lookup), and
training-data generation (A30) as registered queries.

Every query here carries a full DuckDB oracle except the TEI/JATS sink
(q90) — byte-exact XML assembly is genuinely non-SQL-expressible, so it
registers rows-only as the contract allows. The three stateful grammar
folds and the full cascade collapse to window algebra on their fixtures
(the fixture shapes gate off the non-relational branches, which stay
covered by ported unit tests).

All derive deterministic fixtures from the `documents` table: tokens by
whitespace tokenization (same as docpipe), mock model labels from token
shape/position (the reference's MockFullTextModels trick,
tests/processors/fulltext/model_mocks.py:46-135, in deterministic form).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.operators.extract_grammars import extract_names
from sciencebeam_parser_spark.plans.cascade import run_fulltext_cascade
from sciencebeam_parser_spark.plans.training_data import (
    generate_model_data_lines,
)
from sciencebeam_parser_spark.queries.docpipe import (
    _TOKENS_CTE,
    _tokens,
    q159_pdf_alto_sidecar,
)
from sciencebeam_parser_spark.queries.registry import register, table
from sciencebeam_parser_spark.session import scratch_dir, session_memo
from sciencebeam_parser_spark.utils import checkpoint_big
from sciencebeam_parser_spark.sinks.jats import tei_with_jats
from sciencebeam_parser_spark.sinks.tei import entities_to_tei


def _shared_cascade(spark: SparkSession, sf_dir: str):
    """(tokens, labels, entities) for the default cascade config, each
    localCheckpoint'ed once per (session, sf_dir).

    q88/q90/q130/q131 all consume the SAME entities relation; re-deriving
    it per query costs ~6-17 s each at sf0.1. This is the engine-level
    analog of the reference's ModelResultCache
    (training/cli/generate_data.py:51-56 — LRU of model results keyed by
    document). Memoized per sf_dir, not per query: tests + bench in one
    process alternate datasets, and re-paying the materialization on
    each switch would strand the older checkpoint blocks."""
    return session_memo(
        spark, ("cascade", sf_dir), lambda: _build_shared_cascade(spark, sf_dir)
    )


def _build_shared_cascade(spark: SparkSession, sf_dir: str):
    toks, labels = _mock_labeled_tokens(spark, sf_dir)
    # checkpoint_big = repartition(doc_id) BEFORE storing + a
    # DISK_ONLY store. The token relation is an explode of documents,
    # so input-split sizing (pre-explode scan bytes) leaves it in a
    # handful of partitions, and the default MEMORY_AND_DISK level
    # unrolls deserialized rows in-heap — at 100x scale the
    # checkpoint stage OOM'd the JVM (measured in the BASELINE scale
    # smoke). Both checkpoints stay hash-partitioned on doc_id, so the
    # cascade's per-document pass reads their union in place, with no
    # shuffle of its own. Building runs no job: the first query that
    # reads the entities computes and stores all three relations.
    toks = checkpoint_big(toks, "doc_id")
    labels = checkpoint_big(labels, "doc_id")
    ents = checkpoint_big(run_fulltext_cascade(toks, labels))
    return toks, labels, ents


def _mock_labeled_tokens(spark: SparkSession, sf_dir: str):
    """Tokens + deterministic mock labels for all cascade models.

    Segmentation: first 30% of each doc <header>, last 30% <references>,
    middle <body>. Header model: first 3 header tokens <title>, rest
    <abstract>. Fulltext: long tokens <section>, rest <paragraph>.
    Reference segmenter: numeric tokens <label>, others <reference>.
    Citation: capitalized tokens <author>, numeric <date>, rest <title>.
    """
    toks = (
        _tokens(spark, sf_dir)
        .withColumnRenamed("token", "text")
        # grammar/sink pandas schemas declare doc_id:string (§1.4 surrogate
        # keys are strings); the synthetic table stores int64
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return _mock_labels_for(toks)


def _mock_labels_for(toks):
    """Apply the deterministic mock-label rules to ANY token stream with
    (doc_id string, token_seq 1-based, text) — the documents-table stream
    (q88) and the pdfalto-sidecar-derived stream (q290) share these."""
    n = F.count("*").over(W.partitionBy("doc_id"))
    # integer-exact region gates: (seq-1)/n < 0.3 and >= 0.7 restated as
    # (seq-1)*10 vs n*3 / n*7 — exact-boundary tokens (docs of 10/20 tokens
    # have them) resolve identically on every engine/version, no float or
    # decimal division at the knife-edge (see q124's round-4 fix).
    scaled = (F.col("token_seq") - 1) * 10
    seg = (
        F.when(scaled < n * 3, "<header>")
        .when(scaled >= n * 7, "<references>")
        .otherwise("<body>")
    )
    toks = toks.withColumn("_seg", seg)
    w_hdr = W.partitionBy("doc_id", "_seg").orderBy("token_seq")
    hdr_pos = F.row_number().over(w_hdr)
    # one projection computes every model's label, then stack unpivots —
    # ONE scan + one window pass instead of a 5-way union re-reading the
    # base relation per model (5× fewer stages in the cascade's deep DAG)
    wide = toks.select(
        "doc_id", "token_seq",
        F.concat(F.lit("I-"), F.col("_seg")).alias("_l_seg"),
        F.concat(
            F.lit("I-"),
            # mock header vocabulary now covers the author/affiliation tags
            # so the TEI/JATS front matter exercises persName + affiliation
            # building (tei/author.py): 3 title, 3 author, 2 affiliation,
            # rest abstract — all positions within the front region
            F.when(hdr_pos <= 3, "<title>")
            .when(hdr_pos <= 6, "<author>")
            .when(hdr_pos <= 8, "<affiliation>")
            .otherwise("<abstract>"),
        ).alias("_l_hdr"),
        F.concat(
            F.lit("I-"),
            F.when(F.length("text") >= 8, "<section>").otherwise("<paragraph>"),
        ).alias("_l_ft"),
        F.concat(
            F.lit("I-"),
            F.when(F.col("text").rlike("^[0-9]+$"), "<label>")
            .otherwise("<reference>"),
        ).alias("_l_rs"),
        F.concat(
            F.lit("I-"),
            F.when(F.col("text").rlike("^[A-Z]"), "<author>")
            .when(F.col("text").rlike("^[0-9]{4}$"), "<date>")
            .otherwise("<title>"),
        ).alias("_l_cit"),
    )
    labels = wide.select(
        "doc_id", "token_seq",
        F.expr(
            "stack(5, "
            "'segmentation', _l_seg, "
            "'header', _l_hdr, "
            "'fulltext', _l_ft, "
            "'reference_segmenter', _l_rs, "
            "'citation', _l_cit) AS (model_name, label)"
        ),
    )
    # Deliberately NOT cached: the cascade reads the tokens and these
    # labels once each, so an InMemoryRelation here would only cost
    # memory at scale (interleaved warm A/B at sf0.1 measured cached vs
    # uncached within noise, ±10%). (The XML-building consumers q88/q90
    # swing ~2× run to run from Python-worker GC state — time them
    # twice.)
    return toks.drop("_seg"), labels


@register(
    "q87_gazetteer_membership",
    oracle="""
    SELECT t.doc_id, t.token_seq, t.token,
           (n.n_name IS NOT NULL) AS is_nation
    FROM (
        SELECT doc_id,
               CAST(pos AS BIGINT) AS token_seq,
               tok AS token
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                   unnest(range(1, len(string_split_regex(trim(text), '\\s+')) + 1)) AS pos
            FROM documents
        )
    ) t
    LEFT JOIN (SELECT DISTINCT lower(n_name) AS n_name FROM nation) n
      ON lower(t.token) = n.n_name
    """,
    survey_ref="§1.2 TextLookUp / §2A A7 gazetteer membership; §2B broadcast+left joins",
    doc="Gazetteer membership as a broadcast left join: the nation table is "
        "the country gazetteer, tokens the probe side. At 100 TB the dim "
        "stays broadcast — zero shuffle of the token fact table.",
)
def q87_gazetteer_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.sources.gazetteer import add_gazetteer_flag

    toks = _tokens(spark, sf_dir)
    gz = table(spark, sf_dir, "nation").select(F.col("n_name").alias("term"))
    gz = gz.select(F.lower(F.trim("term")).alias("term")).distinct()
    return add_gazetteer_flag(
        toks, gz, text_col="token", flag_col="is_nation"
    ).select("doc_id", "token_seq", "token", "is_nation")


# shared cascade-oracle CTEs (through the `typed` entity relation) — used
# by the q88 flagship oracle AND the q130 TEI structural round-trip.
# The `base` CTE (doc_id VARCHAR, token_seq 1-based, token, n = tokens
# per doc) is the pluggable token stream: q88 reads the documents table,
# q290 reads the pdfalto-sidecar-derived first-20-token stream.
_CASCADE_BASE_SQL = _TOKENS_CTE + """,
    base AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, token_seq, token,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM tokens
    )"""

_CASCADE_RULES_SQL = """,
    seg AS (
        SELECT *, CASE WHEN (token_seq - 1) * 10 < n * 3 THEN 'front'
                       WHEN (token_seq - 1) * 10 >= n * 7 THEN 'back'
                       ELSE 'body' END AS region
        FROM base
    ),
    labeled AS (
        SELECT doc_id, token_seq, 'header' AS model_name,
               CASE WHEN row_number() OVER (
                        PARTITION BY doc_id ORDER BY token_seq) <= 3
                    THEN '<title>'
                    WHEN row_number() OVER (
                        PARTITION BY doc_id ORDER BY token_seq) <= 6
                    THEN '<author>'
                    WHEN row_number() OVER (
                        PARTITION BY doc_id ORDER BY token_seq) <= 8
                    THEN '<affiliation>'
                    ELSE '<abstract>' END AS tag
        FROM seg WHERE region = 'front'
        UNION ALL
        SELECT doc_id, token_seq, 'fulltext',
               CASE WHEN len(token) >= 8 THEN '<section>'
                    ELSE '<paragraph>' END
        FROM seg WHERE region = 'body'
        UNION ALL
        SELECT doc_id, token_seq, 'reference_segmenter',
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN '<label>'
                    ELSE '<reference>' END
        FROM seg WHERE region = 'back'
        UNION ALL
        SELECT doc_id, token_seq, 'citation',
               CASE WHEN regexp_matches(token, '^[A-Z]') THEN '<author>'
                    WHEN regexp_matches(token, '^[0-9]{4}$') THEN '<date>'
                    ELSE '<title>' END
        FROM seg WHERE region = 'back'
    ),
    flagged AS (
        SELECT *, CASE WHEN lag(tag) OVER w IS NULL
                         OR tag <> lag(tag) OVER w THEN 1 ELSE 0 END AS b
        FROM labeled
        WINDOW w AS (PARTITION BY doc_id, model_name ORDER BY token_seq)
    ),
    grouped AS (
        SELECT *, sum(b) OVER (
            PARTITION BY doc_id, model_name ORDER BY token_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS entity_group
        FROM flagged
    ),
    ents AS (
        SELECT doc_id, model_name, entity_group, min(tag) AS tag,
               min(token_seq) AS token_start,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM grouped GROUP BY doc_id, model_name, entity_group
    ),
    typed AS (
        SELECT doc_id, model_name, entity_group,
               CASE model_name
                 WHEN 'header' THEN
                   CASE tag WHEN '<title>' THEN 'title'
                            WHEN '<author>' THEN 'raw_authors'
                            WHEN '<affiliation>' THEN 'raw_affiliation'
                            ELSE 'abstract' END
                 WHEN 'fulltext' THEN
                   CASE tag WHEN '<section>' THEN 'heading'
                            ELSE 'paragraph' END
                 WHEN 'reference_segmenter' THEN
                   CASE tag WHEN '<label>' THEN 'reference_label'
                            ELSE 'raw_reference_text' END
                 ELSE
                   CASE tag WHEN '<author>' THEN 'raw_authors'
                            WHEN '<date>' THEN 'date'
                            ELSE 'title' END
               END AS entity_type,
               CASE model_name WHEN 'header' THEN 'front'
                               WHEN 'fulltext' THEN 'body'
                               ELSE 'back' END AS region,
               token_start, n_tokens
        FROM ents
    ),
"""

_CASCADE_TYPED_SQL = _CASCADE_BASE_SQL + _CASCADE_RULES_SQL

# q88's oracle tail (id assignment, reference validity, final entity
# relation) — shared verbatim by q290's file-ingest composition
_CASCADE_FINAL_SQL = """
    with_ids AS (
        SELECT *, CASE WHEN entity_type = 'raw_reference_text'
                 THEN 'b' || CAST(row_number() OVER (
                          PARTITION BY doc_id,
                              CASE WHEN entity_type = 'raw_reference_text'
                                   THEN 'b'
                                   WHEN entity_type = 'raw_affiliation'
                                   THEN 'aff' END
                          ORDER BY token_start) - 1 AS VARCHAR)
                 WHEN entity_type = 'raw_affiliation'
                 THEN 'aff' || CAST(row_number() OVER (
                          PARTITION BY doc_id,
                              CASE WHEN entity_type = 'raw_reference_text'
                                   THEN 'b'
                                   WHEN entity_type = 'raw_affiliation'
                                   THEN 'aff' END
                          ORDER BY token_start) - 1 AS VARCHAR)
                 END AS content_id
        FROM typed
    ),
    valid_refs AS (
        -- A18 is PER REFERENCE: >=1 valid-type CITATION entity whose
        -- span overlaps this reference's span (overlap, not containment
        -- — citation runs may straddle reference boundaries)
        SELECT DISTINCT r.doc_id, r.token_start
        FROM typed r JOIN typed f
          ON f.doc_id = r.doc_id
         AND f.model_name = 'citation'
         AND f.entity_type IN ('title', 'journal', 'raw_authors',
                               'raw_editors', 'external_identifier',
                               'external_url')
         AND f.token_start <= r.token_start + r.n_tokens - 1
         AND f.token_start + f.n_tokens - 1 >= r.token_start
        WHERE r.entity_type = 'raw_reference_text'
    )
    SELECT e.doc_id, e.model_name, e.entity_group, e.entity_type, e.region,
           e.n_tokens, e.content_id,
           CAST(NULL AS VARCHAR) AS target_content_id,
           CASE WHEN e.entity_type = 'raw_reference_text'
                THEN (v.doc_id IS NOT NULL) END AS is_valid_reference
    FROM with_ids e LEFT JOIN valid_refs v
      ON v.doc_id = e.doc_id AND v.token_start = e.token_start
    """


@register(
    "q88_fulltext_cascade",
    # The cascade became fully relational once the stateful folds moved to
    # their own queries, so the flagship gets a full oracle: mock labels
    # (doc-fraction regions + shape rules), per-(doc,model) BIO islands,
    # tag→entity-type dispatch, 'b<n>' id assignment, the citation-marker
    # left join (provably empty on this vocabulary — no marker tags arise,
    # so target_content_id is NULL everywhere, exactly as Spark computes),
    # and the per-REFERENCE validity gate.
    oracle="WITH " + _CASCADE_TYPED_SQL + _CASCADE_FINAL_SQL,
    survey_ref="§2A A28 cascade + A14/A15/A16/A17/A18/A19/A20",
    doc="The full mock-label fulltext cascade: segmentation filter → "
        "header/fulltext/citation models → BIO entities → scalar enrichment "
        "→ id assignment → citation matching → validity. Deterministic mock "
        "labels from token shape (MockFullTextModels port).",
)
def q88_fulltext_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks, labels, ents = _shared_cascade(spark, sf_dir)
    return ents.select(
        "doc_id", "model_name", "entity_group", "entity_type", "region",
        "n_tokens", "content_id", "target_content_id", "is_valid_reference",
    )


@register(
    "q89_extract_author_names",
    # The name fold's hairy branches (marker splitting, after-comma split,
    # tail markers, 2-letter given names) are all gated on token shapes the
    # synthetic vocabulary provably lacks (all-lowercase alpha words, no
    # digits/commas/uppercase in the fixture window — verified at sf0.01).
    # On this data the fold reduces to greedy (forename, surname) pairing:
    # split on the second forename, title-case valid parts, demote a
    # trailing lone forename (odd token count) to an invalid note. That IS
    # window algebra, so the query carries a full oracle; the general fold
    # still runs on the Spark side and is unit-tested on the hairy branches
    # in test_extract_grammars.py.
    oracle="WITH " + _TOKENS_CTE + """,
    named AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, token_seq, token,
               CAST((token_seq - 1) // 2 AS INT) AS name_seq,
               CAST((token_seq - 1) % 2 AS INT) AS part_seq,
               count(*) OVER (
                   PARTITION BY doc_id, (token_seq - 1) // 2) AS pair_n
        FROM tokens
        WHERE token_seq <= 12
    )
    SELECT doc_id, name_seq,
           CASE WHEN pair_n = 1 THEN 0 ELSE part_seq END AS part_seq,
           CASE WHEN pair_n = 1 THEN 'invalid_author_name'
                WHEN part_seq = 0 THEN 'given_name'
                ELSE 'surname' END AS part_type,
           CASE WHEN pair_n = 1 THEN token
                ELSE upper(substr(token, 1, 1)) || substr(token, 2)
                END AS text,
           CASE WHEN pair_n = 1 THEN 'false' ELSE 'true' END AS is_valid
    FROM named
    """,
    survey_ref="§2A A16 name grammar (models/name/extract.py:126-193)",
    doc="Name-model fold over deterministic tag runs: alternating forename/"
        "surname tokens with numeric markers; splits on second forename, "
        "title-cases parts, validates surname presence.",
)
def q89_extract_author_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _tokens(spark, sf_dir)
        .filter(F.col("token_seq") <= 12)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    tag = (
        F.when(F.col("token").rlike("^[0-9]+$"), "<marker>")
        .when(F.col("token_seq") % 2 == 1, "<forename>")
        .otherwise("<surname>")
    )
    runs = toks.select(
        "doc_id",
        F.lit("authors").alias("group_id"),
        F.col("token_seq").alias("entity_group"),
        tag.alias("tag"),
        F.col("token").alias("text"),
    )
    return extract_names(runs).select(
        "doc_id", "name_seq", "part_seq", "part_type", "text", "is_valid"
    )


@register(
    "q90_tei_jats_sink",
    oracle=None,  # XML assembly: rows-only
    survey_ref="§2A A29 TEI serialization + TEI→JATS transform",
    doc="Cascade entities → per-doc TEI XML (grouped-map) → JATS "
        "(mapInPandas). Output keeps sizes + digests, not megabyte XML "
        "payloads.",
)
def q90_tei_jats_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks, labels, ents = _shared_cascade(spark, sf_dir)
    # one mapInPandas pass emits both serializations — no tei ⋈ jats
    # self-join, no cache, the cascade DAG executes once
    both = tei_with_jats(entities_to_tei(ents))
    return both.select(
        "doc_id",
        F.length("tei_xml").cast("long").alias("tei_len"),
        F.length("jats_xml").cast("long").alias("jats_len"),
        F.md5("jats_xml").alias("jats_md5"),
    )


@register(
    "q91_training_data_lines",
    # the full generic data_line restated: 19 feature columns over the
    # synthesized layout (line = seq//8, block = seq//40, font size cycles
    # 10+seq%3) + the segmentation label join, space-joined in the exact
    # DEFAULT_FEATURE_COLUMNS order.
    oracle="WITH " + _TOKENS_CTE + """,
    base AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, token_seq, token,
               count(*) OVER (PARTITION BY doc_id) AS n,
               token_seq // 8 AS line_id,
               token_seq // 40 AS block_id,
               10 + token_seq % 3 AS fsz
        FROM tokens
    ),
    fx AS (
        SELECT *,
               row_number() OVER (PARTITION BY doc_id, line_id
                                  ORDER BY token_seq) AS rn_line,
               row_number() OVER (PARTITION BY doc_id, line_id
                                  ORDER BY token_seq DESC) AS rn_line_d,
               dense_rank() OVER (PARTITION BY doc_id, block_id
                                  ORDER BY line_id) AS lib,
               lag(fsz) OVER (PARTITION BY doc_id
                              ORDER BY token_seq) AS prev_sz,
               lag(token_seq) OVER (PARTITION BY doc_id
                                    ORDER BY token_seq) AS prev_seq,
               max(fsz) OVER (PARTITION BY doc_id) AS max_sz,
               min(fsz) OVER (PARTITION BY doc_id) AS min_sz,
               avg(fsz) OVER (PARTITION BY doc_id) AS avg_sz
        FROM base
    ),
    fx2 AS (
        SELECT *,
               CASE WHEN rn_line = 1 THEN 'LINESTART'
                    WHEN rn_line_d = 1 THEN 'LINEEND'
                    ELSE 'LINEIN' END AS line_status,
               max(lib) OVER (PARTITION BY doc_id, block_id) AS n_lib
        FROM fx
    )
    SELECT doc_id, token_seq,
           concat_ws(' ', token,
               substr(token, 1, 1), substr(token, 1, 2),
               substr(token, 1, 3), substr(token, 1, 4),
               CASE WHEN len(token) <= 1 THEN token
                    ELSE substr(token, len(token), 1) END,
               CASE WHEN len(token) <= 2 THEN token
                    ELSE substr(token, len(token) - 1, 2) END,
               CASE WHEN len(token) <= 3 THEN token
                    ELSE substr(token, len(token) - 2, 3) END,
               CASE WHEN len(token) <= 4 THEN token
                    ELSE substr(token, len(token) - 3, 4) END,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(token, '[0-9]') THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END,
               CASE WHEN len(token) > 0
                         AND NOT regexp_matches(token, '[a-z]') THEN 'ALLCAP'
                    WHEN regexp_matches(token, '^[A-Z]') THEN 'INITCAP'
                    ELSE 'NOCAPS' END,
               CASE WHEN token IN ('(', '[') THEN 'OPENBRACKET'
                    WHEN token IN (')', ']') THEN 'ENDBRACKET'
                    WHEN token = '.' THEN 'DOT'
                    WHEN token = ',' THEN 'COMMA'
                    WHEN token IN ('-', '–') THEN 'HYPHEN'
                    WHEN token IN ('"', '''', '`', '’') THEN 'QUOTE'
                    WHEN regexp_matches(token, '^[,:;?.]+$') THEN 'PUNCT'
                    ELSE 'NOPUNCT' END,
               line_status,
               CASE WHEN lib = 1 AND line_status = 'LINESTART'
                    THEN 'BLOCKSTART'
                    WHEN lib = n_lib AND line_status = 'LINEEND'
                    THEN 'BLOCKEND'
                    ELSE 'BLOCKIN' END,
               CASE WHEN prev_seq IS NULL THEN 'NEWFONT'
                    ELSE 'SAMEFONT' END,
               CASE WHEN prev_seq IS NULL OR prev_sz < fsz
                    THEN 'HIGHERFONT'
                    WHEN prev_sz > fsz THEN 'LOWERFONT'
                    ELSE 'SAMEFONTSIZE' END,
               CAST(fsz = max_sz AS VARCHAR),
               CAST(fsz = min_sz AS VARCHAR),
               CAST(fsz > avg_sz AS VARCHAR),
               CAST(CASE WHEN token_seq - 1 <= 0 THEN 0
                         ELSE CAST(floor(CAST(token_seq - 1 AS DOUBLE)
                                         / n * 10)
                                   AS INT) END AS VARCHAR),
               'I-' || CASE WHEN (token_seq - 1) * 10 < n * 3 THEN '<header>'
                            WHEN (token_seq - 1) * 10 >= n * 7
                            THEN '<references>'
                            ELSE '<body>' END
           ) AS data_line
    FROM fx2
    """,
    survey_ref="§2A A30 training-data generation; A7 feature columns",
    doc="Per-token CRF data lines (text + 19 features + label) over "
        "synthesized layout columns — the generate_data.py ETL re-expressed "
        "as one concat_ws projection over the A7 feature relation.",
)
def q91_training_data_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks, labels = _mock_labeled_tokens(spark, sf_dir)
    toks = toks.select(
        "doc_id", "token_seq", "text",
        (F.col("token_seq") / 8).cast("long").alias("line_id"),
        (F.col("token_seq") / 40).cast("long").alias("block_id"),
        F.lit("serif").alias("font_family"),
        (10.0 + (F.col("token_seq") % 3).cast("double")).alias("font_size"),
    )
    return generate_model_data_lines(
        toks, labels=labels, model_name="segmentation"
    )


@register(
    "q98_multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CASE WHEN starts_with(text, '%PDF') THEN 'application/pdf'
                ELSE 'application/octet-stream' END AS sniffed_type
    FROM documents
    """,
    survey_ref="north-star multimodal columns; §2A A23 binary metadata",
    doc="Typed metadata over an opaque binary column (document text cast to "
        "bytes as the stand-in payload): byte length, sha256 digest, "
        "magic-byte media-type sniff — all JVM-side expressions, no UDF; "
        "the decode stages behind it are the stubbed mapInPandas kernels in "
        "operators/multimodal.py.",
)
def q98_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.multimodal import sniff_media_type

    docs = table(spark, sf_dir, "documents")
    content = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.length(content).cast("long").alias("n_bytes"),
        F.sha2(content, 256).alias("sha256"),
        sniff_media_type(content).alias("sniffed_type"),
    )


@register(
    "q111_multimodal_decode",
    oracle="""
    WITH media AS (
        SELECT 'm' || doc_id AS media_id, sha256(text) AS h
        FROM documents
    )
    SELECT media_id,
           64 + CAST('0x' || substr(h, 1, 2) AS INT) AS width,
           64 + CAST('0x' || substr(h, 3, 2) AS INT) AS height,
           'RGB' AS mode,
           round(CAST('0x' || substr(h, 1, 2) AS INT) / 255.0, 6) AS f0,
           round(CAST('0x' || substr(h, 3, 2) AS INT) / 255.0, 6) AS f1,
           round(CAST('0x' || substr(h, 5, 2) AS INT) / 255.0, 6) AS f2,
           round(CAST('0x' || substr(h, 7, 2) AS INT) / 255.0, 6) AS f3,
           round(CAST('0x' || substr(h, 9, 2) AS INT) / 255.0, 6) AS f4,
           round(CAST('0x' || substr(h, 11, 2) AS INT) / 255.0, 6) AS f5,
           round(CAST('0x' || substr(h, 13, 2) AS INT) / 255.0, 6) AS f6,
           round(CAST('0x' || substr(h, 15, 2) AS INT) / 255.0, 6) AS f7
    FROM media
    """,
    survey_ref="north-star multimodal columns — decode/feature-extract "
               "kernel plumbing (§2A A23/A24 analog); mapInPandas batch "
               "path",
    doc="The image-decode mapInPandas stage end-to-end with the "
        "deterministic sha256 fake decoder (real decode is the stubbed "
        "kernel, same schema/batching): binary content → width/height/"
        "mode/8-dim feature. The oracle restates the hash-derived fake in "
        "SQL — the Arrow batch plumbing, schema, and column pruning are "
        "what's under test.",
)
def q111_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.multimodal import decode_images

    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    decoded = decode_images(media, use_fake_decoder=True)
    return decoded.select(
        "media_id",
        "width",
        "height",
        "mode",
        *[F.get("feature", i).alias(f"f{i}") for i in range(8)],
    )


@register(
    "q112_frame_sample",
    oracle="""
    WITH media AS (
        SELECT 'm' || doc_id AS media_id, sha256(text) AS h
        FROM documents
    )
    SELECT media_id,
           CAST(i AS INT) AS frame_index,
           CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
           substr(h, i * 2 + 1, 16) AS frame_hex
    FROM media, unnest(range(0, 4)) AS t(i)
    """,
    survey_ref="north-star multimodal columns — video frame sampling "
               "(table-function mapInPandas, §2B UDTF surface)",
    doc="The frame-sampling stub end-to-end: one output row per sampled "
        "frame (mapInPandas emitting multiple rows per input — the UDTF "
        "shape), frame payload = deterministic sha256 slice so the oracle "
        "can restate it; ffmpeg would replace the kernel, not the "
        "plumbing.",
)
def q112_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.multimodal import sample_frames

    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    frames = sample_frames(media, use_fake_decoder=True)
    return frames.select(
        "media_id",
        "frame_index",
        "frame_ts_ms",
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


@register(
    "q119_extract_affiliations",
    # The fold is stateful, but on this fixture (one run per token, no note
    # tags) the state collapses to window algebra: an affiliation opens at a
    # <marker>, at the document start, or at the 2nd+ <institution> within a
    # marker-delimited span (the open aff already holds one); country text
    # splits into rtrim('.') + a trailing-dot suffix row.
    oracle="""
    WITH """ + _TOKENS_CTE + """,
    tt AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, token_seq, token,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'marker'
                    WHEN token_seq % 3 = 0 THEN 'institution'
                    WHEN token_seq % 3 = 1 THEN 'settlement'
                    ELSE 'country' END AS tag
        FROM tokens
        WHERE token_seq <= 15
    ),
    sp AS (
        SELECT *,
               sum(CASE WHEN tag = 'marker' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY token_seq
                       ROWS UNBOUNDED PRECEDING) AS span_id,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY token_seq) AS rn
        FROM tt
    ),
    io AS (
        SELECT *,
               sum(CASE WHEN tag = 'institution' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id, span_id ORDER BY token_seq
                       ROWS UNBOUNDED PRECEDING) AS inst_ord
        FROM sp
    ),
    af AS (
        SELECT *,
               sum(CASE WHEN tag = 'marker' OR rn = 1
                        OR (tag = 'institution' AND inst_ord >= 2)
                   THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY token_seq
                       ROWS UNBOUNDED PRECEDING) AS aff_ord
        FROM io
    ),
    cl AS (
        SELECT *,
               CASE WHEN tag = 'country' AND regexp_matches(token, '[^.]')
                    THEN rtrim(token, '.') ELSE token END AS cleaned,
               CASE WHEN tag = 'country' AND regexp_matches(token, '[^.]')
                    THEN substr(token, len(rtrim(token, '.')) + 1)
                    ELSE '' END AS sfx
        FROM af
    ),
    rows_out AS (
        SELECT doc_id, aff_ord, token_seq, 0 AS sub,
               tag AS part_type, cleaned AS text
        FROM cl
        UNION ALL
        SELECT doc_id, aff_ord, token_seq, 1, 'country-suffix', sfx
        FROM cl WHERE sfx <> ''
    )
    SELECT doc_id,
           'aff' || CAST(aff_ord - 1 AS VARCHAR) AS aff_id,
           CAST(row_number() OVER (PARTITION BY doc_id, aff_ord
                                   ORDER BY token_seq, sub) - 1
                AS INTEGER) AS part_seq,
           part_type, text
    FROM rows_out
    """,
    survey_ref="§2A A16 affiliation grammar (models/affiliation_address/"
               "extract.py AffiliationAddressSemanticExtractor)",
    doc="Affiliation-model fold over deterministic tag runs: numeric "
        "markers open affiliations (aff0, aff1, …), a second institution "
        "splits, country text is dot-cleaned; standalone parts before any "
        "marker become notes.",
)
def q119_extract_affiliations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.extract_grammars import (
        extract_affiliations,
    )

    toks = (
        _tokens(spark, sf_dir)
        .filter(F.col("token_seq") <= 15)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    tag = (
        F.when(F.col("token").rlike("^[0-9]+$"), "<marker>")
        .when(F.col("token_seq") % 3 == 0, "<institution>")
        .when(F.col("token_seq") % 3 == 1, "<settlement>")
        .otherwise("<country>")
    )
    runs = toks.select(
        "doc_id",
        F.col("token_seq").alias("entity_group"),
        tag.alias("tag"),
        F.col("token").alias("text"),
    )
    return extract_affiliations(runs).select(
        "doc_id", "aff_id", "part_seq", "part_type", "text"
    )


@register(
    "q120_extract_reference_segments",
    # Stateful fold, SQL-expressible on single-token runs: a <label> attaches
    # to the next closing <reference>; trailing labels flush at document end
    # with the next id; a first un-labeled <reference> (always ≤3 tokens
    # here) becomes a heading; emit order = (close position, labels-before-
    # reference, original position).
    oracle="""
    WITH """ + _TOKENS_CTE + """,
    tt AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, token_seq, token,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'label'
                    WHEN len(token) >= 4 THEN 'reference'
                    ELSE 'other' END AS tag
        FROM tokens
        WHERE token_seq <= 20
    ),
    h AS (
        SELECT *,
               (tag = 'reference'
                AND sum(CASE WHEN tag = 'reference' THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY token_seq
                            ROWS UNBOUNDED PRECEDING) = 1
                AND COALESCE(
                      sum(CASE WHEN tag = 'label' THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY token_seq
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                      0) = 0) AS is_heading
        FROM tt
    ),
    c AS (
        SELECT *,
               (tag = 'reference' AND NOT is_heading) AS is_close,
               CASE WHEN tag = 'reference' AND NOT is_heading THEN
                 sum(CASE WHEN tag = 'reference' AND NOT is_heading
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY token_seq
                         ROWS UNBOUNDED PRECEDING)
               END AS close_ord
        FROM h
    ),
    n AS (
        SELECT *,
               min(CASE WHEN is_close THEN token_seq END)
                 OVER (PARTITION BY doc_id ORDER BY token_seq
                       ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS next_close_pos,
               min(CASE WHEN is_close THEN close_ord END)
                 OVER (PARTITION BY doc_id ORDER BY token_seq
                       ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS next_close_ord,
               sum(CASE WHEN is_close THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id) AS n_closes
        FROM c
    ),
    rows_out AS (
        SELECT doc_id, CAST(NULL AS VARCHAR) AS content_id,
               'note' AS part_type, token AS text,
               token_seq AS emit_pos, 0 AS sub, token_seq AS orig
        FROM n WHERE tag = 'other'
        UNION ALL
        SELECT doc_id, CAST(NULL AS VARCHAR), 'heading', token,
               token_seq, 0, token_seq
        FROM n WHERE is_heading
        UNION ALL
        SELECT doc_id, 'b' || CAST(close_ord - 1 AS VARCHAR),
               'raw_reference_text', token, token_seq, 1, token_seq
        FROM n WHERE is_close
        UNION ALL
        SELECT doc_id,
               'b' || CAST(COALESCE(next_close_ord - 1, n_closes)
                           AS VARCHAR),
               'reference_label', token,
               COALESCE(next_close_pos, 1000000000), 0, token_seq
        FROM n WHERE tag = 'label'
    )
    SELECT doc_id, content_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY emit_pos, sub, orig) - 1
                AS INTEGER) AS seq,
           part_type, text
    FROM rows_out
    """,
    survey_ref="§2A A16 reference-segmenter grammar (models/"
               "reference_segmenter/extract.py "
               "ReferenceSegmenterSemanticExtractor)",
    doc="Reference-segmenter fold: <label> opens a reference (b0, b1, …), "
        "<reference> closes it; a first short un-labeled reference is "
        "demoted to a heading (is_looks_like_reference needs >3 tokens).",
)
def q120_extract_reference_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.extract_grammars import (
        extract_reference_segments,
    )

    toks = (
        _tokens(spark, sf_dir)
        .filter(F.col("token_seq") <= 20)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    tag = (
        F.when(F.col("token").rlike("^[0-9]+$"), "<label>")
        .when(F.length("token") >= 4, "<reference>")
        .otherwise("<other>")
    )
    runs = toks.select(
        "doc_id",
        F.col("token_seq").alias("entity_group"),
        tag.alias("tag"),
        F.col("token").alias("text"),
    )
    return extract_reference_segments(runs).select(
        "doc_id", "content_id", "seq", "part_type", "text"
    )


@register(
    "q122_delft_data_lines",
    # IOB labels derive from the q81 BIO fixture (numeric → num runs, long
    # tokens → long runs, else O) WITH B- prefixes, so all three translation
    # branches (O → <other>, B-x → I-x, I-x → x) appear in the output.
    oracle="""
    WITH """ + _TOKENS_CTE + """,
    tagged AS (
        SELECT doc_id, token_seq, token,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'num'
                    WHEN len(token) >= 6 THEN 'long' END AS tag
        FROM tokens
    ),
    iob AS (
        SELECT *,
               CASE WHEN tag IS NULL THEN 'O'
                    WHEN lag(tag) OVER w IS DISTINCT FROM tag
                         THEN 'B-' || tag
                    ELSE 'I-' || tag END AS label
        FROM tagged
        WINDOW w AS (PARTITION BY doc_id ORDER BY token_seq)
    )
    SELECT doc_id, token_seq,
           concat_ws(' ', token,
               substr(token, 1, 1),
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'ALLDIGIT'
                    WHEN regexp_matches(token, '[0-9]') THEN 'CONTAINSDIGITS'
                    ELSE 'NODIGIT' END,
               CAST(len(token) AS VARCHAR),
               CASE WHEN label = 'O' THEN '<other>'
                    WHEN label LIKE 'B-%' THEN 'I-' || substr(label, 3)
                    WHEN label LIKE 'I-%' THEN substr(label, 3)
                    ELSE label END) AS delft_line
    FROM iob
    """,
    survey_ref="§2A A30 delft conversion (training/cli/"
               "generate_delft_data.py:77-90 IOB→GROBID translation, "
               ":172-227 DATA-format lines)",
    doc="DELFT training-data conversion: token + feature values + "
        "IOB→GROBID-translated tag per line; alignment holds by "
        "construction on the single token relation.",
)
def q122_delft_data_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.features import (
        digit_feature,
        prefix_feature,
    )
    from sciencebeam_parser_spark.plans.training_data import (
        generate_delft_data_lines,
    )

    toks = _tokens(spark, sf_dir)
    tag = (
        F.when(F.col("token").rlike("^[0-9]+$"), "num")
        .when(F.length("token") >= 6, "long")
    )
    tagged = toks.withColumn("tag", tag)
    w = W.partitionBy("doc_id").orderBy("token_seq")
    prev = F.lag("tag").over(w)
    iob = (
        F.when(F.col("tag").isNull(), "O")
        .when(
            prev.isNull() | (prev != F.col("tag")),
            F.concat(F.lit("B-"), F.col("tag")),
        )
        .otherwise(F.concat(F.lit("I-"), F.col("tag")))
    )
    t = F.col("token")
    labeled = tagged.select(
        "doc_id",
        "token_seq",
        t.alias("text"),
        prefix_feature(t, 1).alias("prefix_1"),
        digit_feature(t).alias("digit_class"),
        F.length(t).alias("tok_len"),
        iob.alias("label"),
    )
    return generate_delft_data_lines(
        labeled, ["prefix_1", "digit_class", "tok_len"]
    )


@register(
    "q123_model_xml_output",
    # Same island numbering as q81; each run becomes an element named by the
    # stripped tag ('O' → 'other'), text XML-escaped (& first), runs joined
    # in entity order inside a per-document <xml><p>…</p></xml> envelope.
    oracle="""
    WITH """ + _TOKENS_CTE + """,
    tagged AS (
        SELECT doc_id, token_seq, token,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN 'num'
                    WHEN len(token) >= 6 THEN 'long'
                    ELSE 'O' END AS tag
        FROM tokens
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
    ),
    runs AS (
        SELECT doc_id, entity_group,
               CASE WHEN min(tag) = 'O' THEN 'other' ELSE min(tag) END
                   AS elem_name,
               replace(replace(replace(
                   string_agg(token, ' ' ORDER BY token_seq),
                   '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS elem_text
        FROM grouped GROUP BY doc_id, entity_group
    )
    SELECT doc_id,
           '<xml>' || chr(10) || '<p>' || chr(10)
           || string_agg(
                  '<' || elem_name || '>' || elem_text
                  || '</' || elem_name || '>',
                  chr(10) ORDER BY entity_group)
           || chr(10) || '</p>' || chr(10) || '</xml>' AS xml
    FROM runs GROUP BY doc_id
    """,
    survey_ref="§3.3 per-model endpoints (service/api/routers/models.py:"
               "54-58 TagOutputFormats.XML); §2A A13 runs; §2B ordered "
               "string aggregation",
    doc="XML tag-output format: BIO runs wrapped in elements named by the "
        "stripped tag inside a per-doc <xml><p> envelope — completes the "
        "endpoint format family (json=q117, raw_data=q91, data=q122).",
)
def q123_model_xml_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.operators.bio import group_bio_entities

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
        F.when(tag == "O", "O").otherwise(F.concat(F.lit("I-"), tag)).alias(
            "label"
        ),
    )
    runs = group_bio_entities(labeled, text_col="text")
    name = F.when(F.col("tag") == "O", "other").otherwise(
        F.regexp_replace("tag", "[<>]", "")
    )
    esc = F.col("text")
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    elem = F.concat(
        F.lit("<"), name, F.lit(">"), esc, F.lit("</"), name, F.lit(">")
    )
    per_run = runs.select("doc_id", "entity_group", elem.alias("elem"))
    return per_run.groupBy("doc_id").agg(
        F.concat(
            F.lit("<xml>\n<p>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("entity_group", "elem"))
                    ),
                    lambda s: s["elem"],
                ),
                "\n",
            ),
            F.lit("\n</p>\n</xml>"),
        ).alias("xml")
    )


@register(
    "q164_requested_fields_cascade",
    # includes=title,abstract gates the cascade to the header model only
    # (get_for_requested_field_names): typed front entities, aff content
    # ids still minted, no citation matching and no validity stage.
    oracle="WITH " + _CASCADE_TYPED_SQL + """
    hdr_only AS (SELECT * FROM typed WHERE model_name = 'header'),
    with_ids AS (
        SELECT *, CASE WHEN entity_type = 'raw_affiliation'
                 THEN 'aff' || CAST(row_number() OVER (
                          PARTITION BY doc_id,
                              (entity_type = 'raw_affiliation')
                          ORDER BY token_start) - 1 AS VARCHAR)
                 END AS content_id
        FROM hdr_only
    )
    SELECT doc_id, model_name, entity_group, entity_type, region,
           n_tokens, content_id,
           CAST(NULL AS VARCHAR) AS target_content_id,
           CAST(NULL AS BOOLEAN) AS is_valid_reference
    FROM with_ids
    """,
    survey_ref="§3.1 /api/convert includes= field selection → plan pruning "
               "(FullTextProcessorConfig.get_for_requested_field_names, "
               "processors/fulltext/config.py:58-81); §2A A28 config gates",
    doc="The cascade with includes=title,abstract: only segmentation and "
        "header labels enter the per-document pass (the reference's "
        "boolean gates) — no fulltext/reference/citation models, no "
        "matching, no validity stage; the pruned models' labels are "
        "filtered out before the shuffle.",
)
def q164_requested_fields_cascade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.plans.cascade import CascadeConfig

    toks, labels = _mock_labeled_tokens(spark, sf_dir)
    config = CascadeConfig().for_requested_field_names({"title", "abstract"})
    ents = run_fulltext_cascade(toks, labels, config)
    return ents.select(
        "doc_id", "model_name", "entity_group", "entity_type", "region",
        "n_tokens", "content_id", "target_content_id", "is_valid_reference",
    )


@register(
    "q158_semantic_type_dispatch",
    # deterministic per-model tags by token position/shape; the Spark side
    # routes them through the SAME create_map dispatch the cascade uses
    # (plans/cascade.py ENTITY_TYPE_BY_TAG), the oracle restates the full
    # (model, tag) → type tables as CASE — line-by-line parity with
    # models/name/extract.py:36-42, affiliation_address/extract.py:31-41,
    # figure//table/extract.py:18-21, incl. the note default.
    oracle="WITH " + _TOKENS_CTE + """,
    limited AS (SELECT * FROM tokens WHERE token_seq <= 20),
    labeled AS (
        SELECT doc_id, token_seq, 'name' AS model_name,
               CASE token_seq % 6 WHEN 1 THEN '<forename>'
                    WHEN 2 THEN '<middlename>' WHEN 3 THEN '<surname>'
                    WHEN 4 THEN '<suffix>' WHEN 5 THEN '<title>'
                    ELSE '<marker>' END AS tag
        FROM limited
        UNION ALL
        SELECT doc_id, token_seq, 'affiliation_address',
               CASE token_seq % 10 WHEN 0 THEN '<marker>'
                    WHEN 1 THEN '<institution>' WHEN 2 THEN '<department>'
                    WHEN 3 THEN '<laboratory>' WHEN 4 THEN '<addrLine>'
                    WHEN 5 THEN '<postCode>' WHEN 6 THEN '<postBox>'
                    WHEN 7 THEN '<region>' WHEN 8 THEN '<settlement>'
                    ELSE '<country>' END
        FROM limited
        UNION ALL
        SELECT doc_id, token_seq, 'figure',
               CASE WHEN token_seq % 5 = 0 THEN '<unknown>'
                    WHEN token_seq % 2 = 1 THEN '<label>'
                    ELSE '<figDesc>' END
        FROM limited
        UNION ALL
        SELECT doc_id, token_seq, 'table',
               CASE WHEN len(token) >= 5 THEN '<figDesc>'
                    ELSE '<label>' END
        FROM limited
    )
    SELECT doc_id, model_name, tag,
           CASE model_name
             WHEN 'name' THEN
               CASE tag WHEN '<title>' THEN 'name_title'
                        WHEN '<forename>' THEN 'given_name'
                        WHEN '<middlename>' THEN 'middle_name'
                        WHEN '<surname>' THEN 'surname'
                        WHEN '<suffix>' THEN 'name_suffix'
                        WHEN '<marker>' THEN 'marker' ELSE 'note' END
             WHEN 'affiliation_address' THEN
               CASE tag WHEN '<institution>' THEN 'institution'
                        WHEN '<department>' THEN 'department'
                        WHEN '<laboratory>' THEN 'laboratory'
                        WHEN '<addrLine>' THEN 'address_line'
                        WHEN '<postCode>' THEN 'post_code'
                        WHEN '<postBox>' THEN 'post_box'
                        WHEN '<region>' THEN 'address_region'
                        WHEN '<settlement>' THEN 'settlement'
                        WHEN '<country>' THEN 'country'
                        WHEN '<marker>' THEN 'marker' ELSE 'note' END
             ELSE
               CASE tag WHEN '<label>' THEN 'label'
                        WHEN '<figDesc>' THEN 'caption' ELSE 'note' END
           END AS entity_type,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM labeled
    GROUP BY 1, 2, 3, 4
    """,
    survey_ref="§2A A16 entity→semantic dispatch, full ~70-type surface "
               "(name/affiliation_address/figure/table sub-model tables + "
               "note default)",
    doc="The complete (model, tag) → semantic-type dispatch: deterministic "
        "tags for the four sub-models routed through the cascade's "
        "create_map, counted per (doc, model, tag, type) — pins every "
        "long-tail type name against the reference tables.",
)
def q158_semantic_type_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sciencebeam_parser_spark.plans.cascade import dispatch_entity_type

    toks = (
        _tokens(spark, sf_dir)
        .filter(F.col("token_seq") <= 20)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    name_tag = (
        F.when(F.col("token_seq") % 6 == 1, "<forename>")
        .when(F.col("token_seq") % 6 == 2, "<middlename>")
        .when(F.col("token_seq") % 6 == 3, "<surname>")
        .when(F.col("token_seq") % 6 == 4, "<suffix>")
        .when(F.col("token_seq") % 6 == 5, "<title>")
        .otherwise("<marker>")
    )
    aff_tag = (
        F.when(F.col("token_seq") % 10 == 0, "<marker>")
        .when(F.col("token_seq") % 10 == 1, "<institution>")
        .when(F.col("token_seq") % 10 == 2, "<department>")
        .when(F.col("token_seq") % 10 == 3, "<laboratory>")
        .when(F.col("token_seq") % 10 == 4, "<addrLine>")
        .when(F.col("token_seq") % 10 == 5, "<postCode>")
        .when(F.col("token_seq") % 10 == 6, "<postBox>")
        .when(F.col("token_seq") % 10 == 7, "<region>")
        .when(F.col("token_seq") % 10 == 8, "<settlement>")
        .otherwise("<country>")
    )
    fig_tag = (
        F.when(F.col("token_seq") % 5 == 0, "<unknown>")
        .when(F.col("token_seq") % 2 == 1, "<label>")
        .otherwise("<figDesc>")
    )
    tbl_tag = F.when(F.length("token") >= 5, "<figDesc>").otherwise("<label>")
    wide = toks.select(
        "doc_id", "token_seq",
        name_tag.alias("_name"), aff_tag.alias("_aff"),
        fig_tag.alias("_fig"), tbl_tag.alias("_tbl"),
    )
    labeled = wide.select(
        "doc_id", "token_seq",
        F.expr(
            "stack(4, 'name', _name, 'affiliation_address', _aff, "
            "'figure', _fig, 'table', _tbl) AS (model_name, tag)"
        ),
    )
    return (
        labeled.withColumn("entity_type", dispatch_entity_type())
        .groupBy("doc_id", "model_name", "tag", "entity_type")
        .agg(F.count("*").cast("long").alias("n_tokens"))
    )


@register(
    "q130_tei_structure_roundtrip",
    # A29 gets a REAL oracle via structure: build the TEI per doc, parse it
    # back, count elements by local name — the counts are predicted
    # relationally from the cascade's typed-entity relation (skeleton
    # elements once; title per title entity; div = headings + the
    # references div; p = abstracts + paragraphs; biblStruct + note per
    # raw reference; no figure/ref/citation elements arise on this
    # vocabulary).
    oracle="WITH " + _CASCADE_TYPED_SQL + """
    agg AS (
        SELECT doc_id,
               count(*) FILTER (WHERE entity_type = 'title') AS n_title,
               count(*) FILTER (WHERE entity_type = 'abstract')
                   AS n_abstract,
               count(*) FILTER (WHERE entity_type = 'heading') AS n_heading,
               count(*) FILTER (WHERE entity_type = 'paragraph') AS n_par,
               count(*) FILTER (WHERE entity_type = 'raw_reference_text')
                   AS n_ref,
               count(*) FILTER (WHERE entity_type = 'raw_authors'
                                  AND region = 'front') AS n_fauth,
               count(*) FILTER (WHERE entity_type = 'raw_authors'
                                  AND region = 'front'
                                  AND n_tokens >= 2) AS n_fauth2,
               count(*) FILTER (WHERE entity_type = 'raw_affiliation')
                   AS n_aff,
               count(*) FILTER (WHERE entity_type NOT IN
                   ('title', 'abstract', 'heading', 'paragraph',
                    'raw_reference_text')
                   AND NOT (region = 'front' AND entity_type IN
                            ('raw_authors', 'raw_affiliation'))) AS n_other,
               sum(CASE WHEN entity_type = 'title'
                        THEN (token_start + n_tokens - 1) // 2
                             - (token_start - 1) // 2
                        ELSE 0 END) AS n_hi
        FROM typed GROUP BY doc_id
    )
    SELECT doc_id, element, CAST(n_elements AS BIGINT) AS n_elements
    FROM (
        SELECT doc_id, unnest(['TEI', 'teiHeader', 'fileDesc', 'titleStmt',
                               'profileDesc', 'text', 'body', 'back'])
                   AS element,
               1 AS n_elements
        FROM agg
        UNION ALL
        SELECT doc_id, 'title', n_title FROM agg WHERE n_title > 0
        UNION ALL
        SELECT doc_id, 'abstract', n_abstract FROM agg WHERE n_abstract > 0
        UNION ALL
        SELECT doc_id, 'p', n_abstract + n_par FROM agg
        WHERE n_abstract + n_par > 0
        UNION ALL
        SELECT doc_id, 'div',
               n_heading + CASE WHEN n_ref > 0 THEN 1 ELSE 0 END
        FROM agg WHERE n_heading + CASE WHEN n_ref > 0 THEN 1 ELSE 0 END > 0
        UNION ALL
        SELECT doc_id, 'head', n_heading FROM agg WHERE n_heading > 0
        UNION ALL
        SELECT doc_id, 'listBibl', 1 FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'sourceDesc', 1 FROM agg WHERE n_fauth + n_aff > 0
        UNION ALL
        SELECT doc_id, 'analytic', 1 FROM agg WHERE n_fauth + n_aff > 0
        UNION ALL
        SELECT doc_id, 'biblStruct',
               n_ref + CASE WHEN n_fauth + n_aff > 0 THEN 1 ELSE 0 END
        FROM agg
        WHERE n_ref + CASE WHEN n_fauth + n_aff > 0 THEN 1 ELSE 0 END > 0
        UNION ALL
        SELECT doc_id, 'author',
               n_fauth + CASE WHEN n_aff > 0 THEN 1 ELSE 0 END
        FROM agg
        WHERE n_fauth + CASE WHEN n_aff > 0 THEN 1 ELSE 0 END > 0
        UNION ALL
        SELECT doc_id, 'persName', n_fauth FROM agg WHERE n_fauth > 0
        UNION ALL
        SELECT doc_id, 'forename', n_fauth FROM agg WHERE n_fauth > 0
        UNION ALL
        SELECT doc_id, 'surname', n_fauth2 FROM agg WHERE n_fauth2 > 0
        UNION ALL
        SELECT doc_id, 'affiliation', n_aff FROM agg WHERE n_aff > 0
        UNION ALL
        SELECT doc_id, '@coords', n_title + n_ref FROM agg
        WHERE n_title + n_ref > 0
        UNION ALL
        SELECT doc_id, 'hi', n_hi FROM agg WHERE n_hi > 0
        UNION ALL
        SELECT doc_id, 'note',
               n_ref + n_other + n_aff
               + CASE WHEN n_aff > 0 THEN 1 ELSE 0 END
        FROM agg
        WHERE n_ref + n_other + n_aff
              + CASE WHEN n_aff > 0 THEN 1 ELSE 0 END > 0
    )
    """,
    survey_ref="§2A A29 TEI serialization — structural round-trip (build "
               "per-doc TEI, parse back, count elements; tei_document.py:"
               "47-165 structure)",
    doc="TEI sink verified structurally: the XML is built by the real "
        "mapInPandas sink, re-parsed, and its element histogram matches "
        "the relational prediction from the cascade's entity relation.",
)
def q130_tei_structure_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from collections import Counter

    import pandas as pd
    from pyspark.sql import types as T

    toks, labels, ents = _shared_cascade(spark, sf_dir)
    # synthesized layout bbox per entity (the q91/q101 layout: token n sits
    # at x = n*10 with width 8), pre-formatted as the reference's
    # 'page,x,y,w,h' coords string (tei/common.py:87-100)
    ents = ents.withColumn(
        "coords",
        F.format_string(
            "1,%.2f,0.00,%.2f,10.00",
            F.col("token_start") * 10.0,
            (F.col("token_end") - F.col("token_start")) * 10.0 + 8.0,
        ),
    )
    # synthesized styles for TITLE entities: even-seq tokens are bold
    # (consecutive integers alternate parity, so every bold token is its
    # own <hi> run — n_hi per title = #evens in [start..end]); runs built
    # relationally (islands over is_bold) and attached as style_runs
    styled = toks.select(
        "doc_id",
        "token_seq",
        "text",
        (F.col("token_seq") % 2 == 0).alias("is_bold"),
    )
    spans = ents.filter(F.col("entity_type") == "title").select(
        "doc_id", "model_name", "entity_group", "token_start", "token_end"
    )
    span_toks = styled.join(spans, "doc_id").filter(
        F.col("token_seq").between(F.col("token_start"), F.col("token_end"))
    )
    # gaps-and-islands in ONE shuffle: the former shape was two window
    # passes (lag boundary + running sum) plus two groupBys — three
    # exchanges on the same (doc, model, entity_group) key family. Here
    # the span's tokens are collected once per entity and the bold-run
    # islands are folded with array expressions over the sorted token
    # array: run boundaries are positions where is_bold differs from the
    # predecessor; each run keeps its first token_seq for ordering,
    # texts joined in token order — bit-identical runs, 1 exchange.
    tok_arr = (
        span_toks.groupBy("doc_id", "model_name", "entity_group")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("token_seq", "text", "is_bold"))
            ).alias("_toks")
        )
    )
    idx = F.sequence(F.lit(0), F.size("_toks") - 1)
    starts = F.filter(
        idx,
        lambda i: (i == 0)
        | (
            F.col("_toks")[i]["is_bold"]
            != F.col("_toks")[i - 1]["is_bold"]
        ),
    )
    bounds = F.arrays_zip(
        starts.alias("lo"),
        F.concat(
            F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
            F.array(F.size("_toks")),
        ).alias("hi"),
    )
    runs_arr = tok_arr.select(
        "doc_id",
        "model_name",
        "entity_group",
        F.transform(
            bounds,
            lambda b: F.struct(
                F.when(
                    F.col("_toks")[b["lo"]]["is_bold"],
                    F.array(F.lit("bold")),
                )
                .otherwise(F.array().cast("array<string>"))
                .alias("styles"),
                F.array_join(
                    F.transform(
                        F.slice(
                            F.col("_toks"), b["lo"] + 1, b["hi"] - b["lo"]
                        ),
                        lambda s: s["text"],
                    ),
                    " ",
                ).alias("text"),
            ),
        ).alias("style_runs"),
    )
    ents = ents.join(
        runs_arr, ["doc_id", "model_name", "entity_group"], "left"
    )
    # coords-bearing elements tracked as a pseudo-element so the oracle
    # pins where @coords lands; build + parse share one Arrow crossing
    return _xml_histogram_fused(ents, track_coords=True)


@register(
    "q131_jats_structure_roundtrip",
    # the JATS half of A29 verified the same way as q130: skeleton once per
    # doc; article-title per title entity; abstract + its p; every TEI
    # paragraph becomes a JATS p whether sec-wrapped or not; sec/title per
    # heading; ref-list once + ref/element-citation per raw reference (empty citations: the stylesheet maps no raw-note fallback).
    oracle="WITH " + _CASCADE_TYPED_SQL + """
    agg AS (
        SELECT doc_id,
               count(*) FILTER (WHERE entity_type = 'title') AS n_title,
               count(*) FILTER (WHERE entity_type = 'abstract')
                   AS n_abstract,
               count(*) FILTER (WHERE entity_type = 'heading') AS n_heading,
               count(*) FILTER (WHERE entity_type = 'paragraph') AS n_par,
               count(*) FILTER (WHERE entity_type = 'raw_reference_text')
                   AS n_ref,
               count(*) FILTER (WHERE entity_type = 'raw_authors'
                                  AND region = 'front') AS n_fauth,
               count(*) FILTER (WHERE entity_type = 'raw_affiliation')
                   AS n_aff
        FROM typed GROUP BY doc_id
    )
    SELECT doc_id, element, CAST(n_elements AS BIGINT) AS n_elements
    FROM (
        SELECT doc_id,
               unnest(['article', 'front', 'article-meta', 'title-group',
                       'body', 'back']) AS element,
               1 AS n_elements
        FROM agg
        UNION ALL
        SELECT doc_id, 'article-title', n_title FROM agg WHERE n_title > 0
        UNION ALL
        SELECT doc_id, 'abstract', n_abstract FROM agg WHERE n_abstract > 0
        UNION ALL
        SELECT doc_id, 'p', n_abstract + n_par FROM agg
        WHERE n_abstract + n_par > 0
        UNION ALL
        SELECT doc_id, 'sec', n_heading FROM agg WHERE n_heading > 0
        UNION ALL
        SELECT doc_id, 'title', n_heading FROM agg WHERE n_heading > 0
        UNION ALL
        SELECT doc_id, 'contrib-group', 1 FROM agg WHERE n_fauth + n_aff > 0
        UNION ALL
        SELECT doc_id, 'contrib',
               n_fauth + CASE WHEN n_aff > 0 THEN 1 ELSE 0 END
        FROM agg
        WHERE n_fauth + CASE WHEN n_aff > 0 THEN 1 ELSE 0 END > 0
        UNION ALL
        SELECT doc_id, 'name', n_fauth FROM agg WHERE n_fauth > 0
        UNION ALL
        SELECT doc_id, 'surname', n_fauth FROM agg WHERE n_fauth > 0
        UNION ALL
        SELECT doc_id, 'given-names', n_fauth FROM agg WHERE n_fauth > 0
        UNION ALL
        SELECT doc_id, 'xref', 1 FROM agg WHERE n_aff > 0
        UNION ALL
        SELECT doc_id, 'aff', n_aff FROM agg WHERE n_aff > 0
        UNION ALL
        SELECT doc_id, 'ref-list', 1 FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'ref', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'element-citation', n_ref FROM agg WHERE n_ref > 0
    )
    """,
    survey_ref="§2A A29 TEI→JATS transform — structural round-trip "
               "(tei-to-jats.xsl mappings re-implemented in sinks/jats.py)",
    doc="JATS sink verified structurally: TEI → JATS via the real "
        "mapInPandas transform, re-parsed, element histogram matched "
        "against the relational prediction.",
)
def q131_jats_structure_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks, labels, ents = _shared_cascade(spark, sf_dir)
    return _xml_histogram_fused(ents, to_jats=True)


def _q165_ann_oracle(n_planes: int = 6, dim: int = 8) -> str:
    coeff = (
        "(CAST('0x' || substr(md5(CAST({p} AS VARCHAR) || ':' "
        "|| CAST(i AS VARCHAR)), 1, 15) AS BIGINT) / 1152921504606846976.0 "
        "- 0.5)"
    )
    projs = ", ".join(
        "list_sum([v[i] * " + coeff.format(p=p)
        + f" FOR i IN range(1, {dim + 1})]) AS proj{p}"
        for p in range(n_planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN proj{p} > 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    # the decode schema stores features as float32 — replicate the
    # truncation (CAST AS REAL) before promoting to DOUBLE for scoring,
    # exactly what Spark's float→double arithmetic does
    feats = ", ".join(
        "CAST(CAST(round(CAST('0x' || substr(h, "
        f"{1 + 2 * i}, 2) AS INT) / 255.0, 6) AS REAL) AS DOUBLE)"
        for i in range(dim)
    )
    return f"""
    WITH media AS (
        SELECT 'm' || doc_id AS media_id, sha256(text) AS h FROM documents
    ),
    vecs AS (SELECT media_id, [f - 0.5 FOR f IN [{feats}]] AS v
             FROM media),
    projected AS (SELECT media_id, v, {projs} FROM vecs),
    bucketed AS (
        SELECT media_id, v,
               sqrt(list_sum([x * x FOR x IN v])) AS nrm,
               CAST({bucket} AS BIGINT) AS bucket
        FROM projected
    ),
    pairs AS (
        SELECT a.media_id AS media_id, b.media_id AS neighbor_id, a.bucket,
               list_sum([a.v[i] * b.v[i] FOR i IN range(1, {dim + 1})])
               / (a.nrm * b.nrm) AS cos
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.media_id <> b.media_id
    )
    SELECT media_id, neighbor_id, bucket, round(cos, 6) AS cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY media_id ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM pairs
    ) WHERE rn = 1
    """


@register(
    "q165_multimodal_ann_pipeline",
    oracle=_q165_ann_oracle(),
    survey_ref="north-star multimodal + similarity fused: decode → feature "
               "→ LSH bucket → within-bucket cosine nearest neighbor, one "
               "DAG (the image-dedup/retrieval pipeline shape)",
    doc="End-to-end multimodal ANN: the REAL decode_images stage (fake "
        "kernel) produces 8-dim features, add_lsh_bucket assigns a 4-bit "
        "hyperplane bucket, and each image's nearest same-bucket neighbor "
        "by exact cosine is reported — the shuffle key at scale is the "
        "bucket, never all-pairs; scoring is the bounded within-bucket "
        "quadratic. Decode, bucketing and scoring all under one oracle.",
)
def q165_multimodal_ann_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sciencebeam_parser_spark.operators.multimodal import decode_images
    from sciencebeam_parser_spark.operators.similarity import add_lsh_bucket

    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias(
            "media_id"
        ),
        F.encode("text", "utf-8").alias("content"),
    )
    decoded = decode_images(media, use_fake_decoder=True)
    # decode features live in [0,1] (hash bytes / 255): hyperplanes
    # through the origin see an all-positive orthant and pile ~45% of the
    # corpus into one sign pattern (measured 8.9M candidate pairs at
    # sf0.1). Centering at 0.5 balances the signs; bucketing AND scoring
    # use the centered vector so the pipeline stays one coherent space.
    decoded = decoded.withColumn(
        "feature", F.transform("feature", lambda x: x - F.lit(0.5))
    )
    # 6 planes = 64 buckets: bucket population ~n/64, so the within-
    # bucket quadratic stays bounded as the corpus grows (4 planes left
    # ~300-doc buckets at sf0.1 and a 1.5M-pair scoring stage - measured
    # 44s; 64 buckets cut it ~16x)
    bucketed = add_lsh_bucket(
        decoded,
        n_planes=6,
        id_col="media_id",
        vec_col="feature",
        dim=8,
    )
    # explicit 8-term arithmetic instead of aggregate/zip_with folds: the
    # higher-order functions run interpreted per row (measured the pair
    # scoring at 14s/sf0.1); element access + adds whole-stage-codegen.
    # Left-to-right addition keeps the exact fold order of list_sum, so
    # results are bit-identical.
    def _dot(x, y, dim=8):
        expr = None
        for i in range(dim):
            term = x.getItem(i) * y.getItem(i)
            expr = term if expr is None else expr + term
        return expr

    bucketed = bucketed.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    dot = _dot(F.col("a.v"), F.col("b.v"))
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("media_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.col("a.bucket").alias("bucket"),
        (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
    )
    w = W.partitionBy("media_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "media_id",
            "neighbor_id",
            "bucket",
            F.round("cos", 6).alias("cosine"),
        )
    )


# reference-island machinery shared by the structured-reference oracles
# (back-region gate, label/reference tagging, island numbering, per-
# reference row numbering) — ONE copy so the q166/q167 and q195 oracle
# families cannot drift
_REF_ISLANDS_SQL = _TOKENS_CTE + """,
    base AS (
        SELECT doc_id, token_seq, token,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM tokens
    ),
    back AS (
        SELECT doc_id, token_seq, token,
               CASE WHEN regexp_matches(token, '^[0-9]+$') THEN '<label>'
                    ELSE '<reference>' END AS rs_tag
        FROM base WHERE (token_seq - 1) * 10 >= n * 7
    ),
    flagged AS (
        SELECT *, CASE WHEN lag(rs_tag) OVER w IS NULL
                         OR rs_tag <> lag(rs_tag) OVER w THEN 1 ELSE 0
                  END AS b
        FROM back WINDOW w AS (PARTITION BY doc_id ORDER BY token_seq)
    ),
    grouped AS (
        SELECT *, sum(b) OVER (
            PARTITION BY doc_id ORDER BY token_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rg
        FROM flagged
    ),
    ref_toks AS (
        SELECT doc_id, rg, token_seq, token,
               row_number() OVER (
                   PARTITION BY doc_id, rg ORDER BY token_seq) AS rn
        FROM grouped WHERE rs_tag = '<reference>'
    ),"""


_STRUCT_REF_SQL = _REF_ISLANDS_SQL + """
    fielded AS (
        SELECT *, CASE WHEN regexp_matches(token, '^[0-9]+$')
                       THEN 'external_identifier'
                       WHEN rn <= 2 THEN 'title'
                       WHEN len(token) >= 8 THEN 'journal'
                       ELSE 'publisher' END AS field_type
        FROM ref_toks
    ),
    fruns AS (
        SELECT doc_id, rg, field_type,
               sum(fb) OVER (
                   PARTITION BY doc_id, rg ORDER BY token_seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_id
        FROM (
            SELECT *, CASE WHEN lag(field_type) OVER w IS NULL
                             OR field_type <> lag(field_type) OVER w
                      THEN 1 ELSE 0 END AS fb
            FROM fielded
            WINDOW w AS (PARTITION BY doc_id, rg ORDER BY token_seq)
        )
    ),
    run_counts AS (
        SELECT doc_id, rg, field_type,
               count(DISTINCT run_id) AS n_runs
        FROM fruns GROUP BY 1, 2, 3
    ),
    per_ref AS (
        SELECT doc_id, rg,
               sum(CASE WHEN field_type = 'title' THEN n_runs END) AS t,
               sum(CASE WHEN field_type = 'external_identifier'
                        THEN n_runs END) AS e,
               sum(CASE WHEN field_type = 'journal' THEN n_runs END) AS j,
               sum(CASE WHEN field_type = 'publisher' THEN n_runs END) AS p
        FROM run_counts GROUP BY 1, 2
    )
"""


@register(
    "q166_structured_reference_sink",
    # per-REFERENCE citation parse (the reference runs the citation model
    # on each raw reference's tokens - processor.py:242-267) + structured
    # biblStruct serialization: field runs become analytic/monogr/imprint
    # children, raw text stays a note[@type=raw_reference]; the element
    # histogram of the re-parsed XML must match the relational prediction.
    oracle="WITH " + _STRUCT_REF_SQL + """
    ,     agg AS (
        SELECT doc_id,
               count(*) AS n_ref,
               sum(COALESCE(t, 0) + COALESCE(j, 0)) AS n_title_el,
               sum(COALESCE(e, 0)) AS n_idno,
               sum(COALESCE(p, 0)) AS n_publisher,
               count(*) FILTER (
                   WHERE COALESCE(t, 0) + COALESCE(e, 0) > 0) AS n_analytic,
               count(*) FILTER (
                   WHERE COALESCE(j, 0) + COALESCE(p, 0) > 0) AS n_monogr,
               count(*) FILTER (WHERE COALESCE(p, 0) > 0) AS n_imprint
        FROM per_ref GROUP BY doc_id
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, element,
           CAST(n_elements AS BIGINT) AS n_elements
    FROM (
        SELECT doc_id,
               unnest(['TEI', 'teiHeader', 'fileDesc', 'titleStmt',
                       'profileDesc', 'text', 'body', 'back', 'div',
                       'listBibl']) AS element,
               1 AS n_elements
        FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'biblStruct', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'note', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'title', n_title_el FROM agg WHERE n_title_el > 0
        UNION ALL
        SELECT doc_id, 'idno', n_idno FROM agg WHERE n_idno > 0
        UNION ALL
        SELECT doc_id, 'publisher', n_publisher FROM agg
        WHERE n_publisher > 0
        UNION ALL
        SELECT doc_id, 'analytic', n_analytic FROM agg WHERE n_analytic > 0
        UNION ALL
        SELECT doc_id, 'monogr', n_monogr FROM agg WHERE n_monogr > 0
        UNION ALL
        SELECT doc_id, 'imprint', n_imprint FROM agg WHERE n_imprint > 0
    )
    """,
    survey_ref="§2A A29 structured references (tei/references.py:52-110 "
               "get_tei_reference_element; parent paths tei/factories.py:"
               "140-152) + the per-reference citation model application "
               "(processor.py:242-267) as a containment-partitioned parse",
    doc="Structured biblStruct references end-to-end: the citation field "
        "model runs PER REFERENCE (islands partitioned by the enclosing "
        "reference span - the reference's per-segment model application), "
        "field runs land under analytic/monogr/imprint via the parent-"
        "path tables, the raw text stays a typed note, and the re-parsed "
        "XML's element histogram matches the relational prediction.",
)
def q166_structured_reference_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ents = _structured_ref_entities(spark, sf_dir)
    return _xml_histogram_fused(ents)


def _xml_histogram_fused(
    entities: DataFrame, *, to_jats: bool = False, track_coords: bool = False
) -> DataFrame:
    """entities → per-doc element histogram in ONE Arrow crossing.

    The round-trip queries used to chain 2-3 mapInPandas stages
    (build TEI → [TEI→JATS] → expat count), so every document's XML
    string crossed the JVM↔Python boundary between each pair of stages
    (guide §4.1: you can't remove the boundary, but you control how
    often and how many bytes cross). The intermediate XML is consumed
    ONLY by the counter, so the real builder (_build_tei), the real
    transform (tei_to_jats_xml) and the real expat parse now run inside
    one mapInPandas — same bytes built, same parse, no XML crossing.
    entities_to_tei/tei_with_jats stay the actual sinks for the queries
    that emit XML (q90, q157, q290)."""
    from collections import Counter
    from xml.parsers import expat

    from pyspark.sql import types as T

    from sciencebeam_parser_spark.sinks.jats import tei_to_jats_xml
    from sciencebeam_parser_spark.sinks.tei import _build_tei
    from sciencebeam_parser_spark.utils import map_documents

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("element", T.StringType()),
            T.StructField("n_elements", T.LongType()),
        ]
    )

    def build_and_count(doc_id, doc):
        xml = _build_tei(doc)
        if to_jats:
            xml = tei_to_jats_xml(xml)
        counts = Counter()

        def start(tag, attrs):
            counts[tag.rsplit("}", 1)[-1]] += 1
            if track_coords and attrs.get("coords"):
                counts["@coords"] += 1

        p = expat.ParserCreate(namespace_separator="}")
        p.StartElementHandler = start
        p.Parse(xml, True)
        return [(doc_id, tag, n) for tag, n in counts.items()]

    return map_documents(entities, "doc_id", build_and_count, schema)


def _structured_ref_entities(
    spark: SparkSession,
    sf_dir: str,
    field_expr=None,
    dash_fields: tuple = (),
) -> DataFrame:
    """The per-reference citation parse: reference islands, field islands
    partitioned by the enclosing reference, ref_fields arrays.

    ``field_expr`` overrides the token→field-type rule (defaults to the
    q166 fielding); ``dash_fields`` lists field types whose run text has
    spaces replaced by '-' (so multi-token runs form parseable page
    ranges / ISO-ish dates for the imprint mappings)."""
    toks = _tokens(spark, sf_dir)
    n = F.count("*").over(W.partitionBy("doc_id"))
    back = toks.withColumn("_n", n).filter(
        (F.col("token_seq") - 1) * 10 >= F.col("_n") * 7
    ).withColumn(
        "rs_tag",
        F.when(F.col("token").rlike("^[0-9]+$"), "<label>").otherwise(
            "<reference>"
        ),
    )
    w_doc = W.partitionBy("doc_id").orderBy("token_seq")
    boundary = (
        F.lag("rs_tag").over(w_doc).isNull()
        | (F.col("rs_tag") != F.lag("rs_tag").over(w_doc))
    ).cast("int")
    grouped = back.withColumn(
        "rg", F.sum(boundary).over(w_doc.rowsBetween(W.unboundedPreceding, 0))
    )
    ref_toks = grouped.filter(F.col("rs_tag") == "<reference>")
    w_ref = W.partitionBy("doc_id", "rg").orderBy("token_seq")
    if field_expr is None:
        field_expr = (
            F.when(F.col("token").rlike("^[0-9]+$"), "external_identifier")
            .when(F.col("rn") <= 2, "title")
            .when(F.length("token") >= 8, "journal")
            .otherwise("publisher")
        )
    fielded = ref_toks.withColumn(
        "rn", F.row_number().over(w_ref)
    ).withColumn("field_type", field_expr)
    fb = (
        F.lag("field_type").over(w_ref).isNull()
        | (F.col("field_type") != F.lag("field_type").over(w_ref))
    ).cast("int")
    runs_t = fielded.withColumn(
        "run_id", F.sum(fb).over(w_ref.rowsBetween(W.unboundedPreceding, 0))
    )
    run_rows = runs_t.groupBy("doc_id", "rg", "run_id").agg(
        F.min("token_seq").alias("_ord"),
        F.min("field_type").alias("field_type"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token_seq", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text"),
    )
    if dash_fields:
        run_rows = run_rows.withColumn(
            "text",
            F.when(
                F.col("field_type").isin(*dash_fields),
                F.regexp_replace("text", " ", "-"),
            ).otherwise(F.col("text")),
        )
    refs = ref_toks.groupBy("doc_id", "rg").agg(
        F.min("token_seq").alias("token_start"),
        F.max("token_seq").alias("token_end"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token_seq", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text"),
    )
    fields_arr = run_rows.groupBy("doc_id", "rg").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "_ord",
                        F.struct(
                            F.col("field_type"), F.col("text")
                        ).alias("run"),
                    )
                )
            ),
            lambda s: s["run"],
        ).alias("ref_fields")
    )
    w_id = W.partitionBy("doc_id").orderBy("token_start")
    ents = (
        refs.join(fields_arr, ["doc_id", "rg"])
        .withColumn(
            "content_id",
            F.concat(F.lit("b"), (F.row_number().over(w_id) - 1).cast("string")),
        )
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit("raw_reference_text").alias("entity_type"),
            F.lit("back").alias("region"),
            "token_start",
            "token_end",
            "text",
            "content_id",
            "ref_fields",
        )
    )
    return ents


@register(
    "q167_structured_reference_jats",
    # the JATS half of q166: the structured TEI references transform to
    # ref/element-citation with article-title (first analytic title),
    # source (first monogr journal title) - histogram predicted from the
    # same per-reference field-run relation.
    oracle="WITH " + _STRUCT_REF_SQL + """
    , agg AS (
        SELECT doc_id,
               count(*) AS n_ref,
               count(*) FILTER (WHERE COALESCE(t, 0) > 0) AS n_at,
               count(*) FILTER (WHERE COALESCE(j, 0) > 0) AS n_src
        FROM per_ref GROUP BY doc_id
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, element,
           CAST(n_elements AS BIGINT) AS n_elements
    FROM (
        SELECT doc_id,
               unnest(['article', 'front', 'article-meta', 'title-group',
                       'body', 'back', 'ref-list']) AS element,
               1 AS n_elements
        FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'ref', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'element-citation', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'article-title', n_at FROM agg WHERE n_at > 0
        UNION ALL
        SELECT doc_id, 'source', n_src FROM agg WHERE n_src > 0
    )
    """,
    survey_ref="§2A A29 structured references in JATS (tei-to-jats.xsl:"
               "250-335 biblStruct → element-citation template)",
    doc="Structured references through the JATS transform: per-reference "
        "parsed fields surface as article-title/source inside "
        "element-citation (first matching TEI node each, per the "
        "stylesheet's value-of semantics); histogram matched against the "
        "same relational prediction as q166.",
)
def q167_structured_reference_jats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ents = _structured_ref_entities(spark, sf_dir)
    return _xml_histogram_fused(ents, to_jats=True)


_IMPRINT_REF_SQL = _REF_ISLANDS_SQL + """
    fielded AS (
        SELECT *, CASE WHEN rn <= 2 THEN 'title'
                       WHEN len(token) >= 8 THEN 'journal'
                       WHEN CAST(rn % 7 AS INT) IN (3, 4, 5) THEN 'date'
                       WHEN CAST(rn % 7 AS INT) = 6 THEN 'volume'
                       WHEN CAST(rn % 7 AS INT) IN (0, 1)
                           THEN 'page_range'
                       ELSE 'publisher' END AS field_type
        FROM ref_toks
    ),
    fruns AS (
        SELECT doc_id, rg, field_type, token_seq,
               sum(fb) OVER (
                   PARTITION BY doc_id, rg ORDER BY token_seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_id
        FROM (
            SELECT *, CASE WHEN lag(field_type) OVER w IS NULL
                             OR field_type <> lag(field_type) OVER w
                      THEN 1 ELSE 0 END AS fb
            FROM fielded
            WINDOW w AS (PARTITION BY doc_id, rg ORDER BY token_seq)
        )
    ),
    runs AS (
        SELECT doc_id, rg, field_type, run_id,
               CAST(count(*) AS BIGINT) AS n_toks
        FROM fruns GROUP BY 1, 2, 3, 4
    ),
    first_date AS (
        SELECT doc_id, rg, n_toks FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id, rg ORDER BY run_id) AS dr
            FROM runs WHERE field_type = 'date'
        ) WHERE dr = 1
    ),
    per_ref AS (
        SELECT doc_id, rg,
               max(CASE WHEN field_type = 'title' THEN 1 ELSE 0 END)
                   AS has_t,
               max(CASE WHEN field_type = 'journal' THEN 1 ELSE 0 END)
                   AS has_j,
               max(CASE WHEN field_type = 'volume' THEN 1 ELSE 0 END)
                   AS has_v,
               max(CASE WHEN field_type = 'page_range' THEN 1 ELSE 0 END)
                   AS has_p
        FROM runs GROUP BY 1, 2
    ),
    agg AS (
        SELECT p.doc_id,
               count(*) AS n_ref,
               sum(p.has_t) AS n_at,
               sum(p.has_j) AS n_src,
               sum(p.has_v) AS n_vol,
               sum(p.has_p) AS n_page,
               count(fd.n_toks) AS n_year,
               count(CASE WHEN fd.n_toks >= 2 THEN 1 END) AS n_month,
               count(CASE WHEN fd.n_toks >= 3 THEN 1 END) AS n_day
        FROM per_ref p
        LEFT JOIN first_date fd
               ON fd.doc_id = p.doc_id AND fd.rg = p.rg
        GROUP BY 1
    )
"""


@register(
    "q195_reference_imprint_jats",
    # the imprint half of the biblStruct → element-citation stylesheet
    # mappings (tei-to-jats.xsl:276-335 + parseDateComponents :434-490):
    # date runs become year/month/day by '-' splitting of @when (month
    # requires a 2-token first date run, day a 3-token one), volume
    # biblScopes → volume, page biblScopes → fpage+lpage (both branches
    # of the stylesheet emit both), stylesheet value-of = first node.
    oracle="WITH " + _IMPRINT_REF_SQL + """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, element,
           CAST(n_elements AS BIGINT) AS n_elements
    FROM (
        SELECT doc_id,
               unnest(['article', 'front', 'article-meta', 'title-group',
                       'body', 'back', 'ref-list']) AS element,
               1 AS n_elements
        FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'ref', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'element-citation', n_ref FROM agg WHERE n_ref > 0
        UNION ALL
        SELECT doc_id, 'article-title', n_at FROM agg WHERE n_at > 0
        UNION ALL
        SELECT doc_id, 'source', n_src FROM agg WHERE n_src > 0
        UNION ALL
        SELECT doc_id, 'volume', n_vol FROM agg WHERE n_vol > 0
        UNION ALL
        SELECT doc_id, 'fpage', n_page FROM agg WHERE n_page > 0
        UNION ALL
        SELECT doc_id, 'lpage', n_page FROM agg WHERE n_page > 0
        UNION ALL
        SELECT doc_id, 'year', n_year FROM agg WHERE n_year > 0
        UNION ALL
        SELECT doc_id, 'month', n_month FROM agg WHERE n_month > 0
        UNION ALL
        SELECT doc_id, 'day', n_day FROM agg WHERE n_day > 0
    )
    """,
    survey_ref="§2A A29 TEI→JATS imprint mappings (tei-to-jats.xsl:"
               "276-335 volume/issue/fpage/lpage/pub-id + "
               "parseDateComponents :434-490) over the structured "
               "per-reference citation parse",
    doc="Structured references with imprint fields through the JATS "
        "transform: position-cycled fielding yields volume / date / "
        "page-range runs (dash-joined, so multi-token runs form "
        "parseable ranges and ISO-ish dates), the TEI sink lands them "
        "as biblScope/date under monogr/imprint, and the JATS transform "
        "maps them to volume, fpage+lpage, and year/month/day per the "
        "stylesheet's '-'-splitting date parser. Element histogram "
        "matched against the relational prediction of every branch.",
)
def q195_reference_imprint_jats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rn = F.col("rn")
    field_expr = (
        F.when(rn <= 2, "title")
        .when(F.length("token") >= 8, "journal")
        .when((rn % 7).isin(3, 4, 5), "date")
        .when(rn % 7 == 6, "volume")
        .when((rn % 7).isin(0, 1), "page_range")
        .otherwise("publisher")
    )
    ents = _structured_ref_entities(
        spark, sf_dir, field_expr=field_expr,
        dash_fields=("date", "page_range"),
    )
    return _xml_histogram_fused(ents, to_jats=True)


@register(
    "q196_back_sections_jats",
    # acknowledgement/annex back sections end-to-end: the 70-80% token
    # span becomes an acknowledgement section (heading = first 2 tokens,
    # paragraph = rest), 80-90% an annex section; TEI lands them as
    # back/div[@type=...]/div{head,p} (tei_document.py:133-141) and the
    # JATS back template maps ack child divs to ack/sec and annex child
    # divs to plain back secs (tei-to-jats.xsl:209-240 defaults,
    # expectations pinned by the reference's own XSLT tests
    # tei_to_jats_xslt_test.py TestBack).
    oracle="WITH " + _TOKENS_CTE + """,
    base AS (
        SELECT doc_id, token_seq,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM tokens
    ),
    spans AS (
        SELECT doc_id, token_seq,
               CASE WHEN (token_seq - 1) * 10 >= n * 7
                     AND (token_seq - 1) * 10 < n * 8
                    THEN 'acknowledgement'
                    WHEN (token_seq - 1) * 10 >= n * 8
                     AND (token_seq - 1) * 10 < n * 9
                    THEN 'annex' END AS region
        FROM base
    ),
    reg AS (
        SELECT doc_id, region, CAST(count(*) AS BIGINT) AS n_toks
        FROM spans WHERE region IS NOT NULL GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id,
               max(CASE WHEN region = 'acknowledgement' THEN 1 ELSE 0 END)
                   AS has_ack,
               max(CASE WHEN region = 'annex' THEN 1 ELSE 0 END)
                   AS has_annex,
               max(CASE WHEN region = 'acknowledgement' AND n_toks > 2
                        THEN 1 ELSE 0 END) AS ack_p,
               max(CASE WHEN region = 'annex' AND n_toks > 2
                        THEN 1 ELSE 0 END) AS annex_p
        FROM reg GROUP BY doc_id
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, element,
           CAST(n_elements AS BIGINT) AS n_elements
    FROM (
        SELECT doc_id,
               unnest(['article', 'front', 'article-meta', 'title-group',
                       'body', 'back']) AS element,
               1 AS n_elements
        FROM agg WHERE has_ack + has_annex > 0
        UNION ALL
        SELECT doc_id, 'ack', has_ack FROM agg WHERE has_ack > 0
        UNION ALL
        SELECT doc_id, 'sec', has_ack + has_annex FROM agg
        WHERE has_ack + has_annex > 0
        UNION ALL
        SELECT doc_id, 'title', has_ack + has_annex FROM agg
        WHERE has_ack + has_annex > 0
        UNION ALL
        SELECT doc_id, 'p', ack_p + annex_p FROM agg
        WHERE ack_p + annex_p > 0
    )
    """,
    survey_ref="§2A A29 back sections (tei_document.py:133-141 "
               "acknowledgement/annex routing; tei-to-jats.xsl:209-240 "
               "back template with default ack/annex targets); A28 "
               "extract_acknowledgements/extract_back_sections gates",
    doc="Acknowledgement and annex sections through both sinks: typed "
        "back divs with nested section divs in TEI (the GROBID shape "
        "the stylesheet expects), ack/sec and back/sec in JATS per the "
        "default acknowledgement_target/annex_target params. Element "
        "histogram matched against the span-arithmetic prediction.",
)
def q196_back_sections_jats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    n = F.count("*").over(W.partitionBy("doc_id"))
    pos = (F.col("token_seq") - 1) * 10
    spans = toks.withColumn("_n", n).withColumn(
        "region",
        F.when((pos >= F.col("_n") * 7) & (pos < F.col("_n") * 8),
               "acknowledgement")
        .when((pos >= F.col("_n") * 8) & (pos < F.col("_n") * 9), "annex"),
    ).filter(F.col("region").isNotNull())
    w_span = W.partitionBy("doc_id", "region").orderBy("token_seq")
    parts = spans.withColumn(
        "entity_type",
        F.when(F.row_number().over(w_span) <= 2, "heading").otherwise(
            "paragraph"
        ),
    )
    ents = parts.groupBy("doc_id", "region", "entity_type").agg(
        F.min("token_seq").alias("token_start"),
        F.max("token_seq").alias("token_end"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token_seq", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text"),
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "entity_type",
        "region",
        "token_start",
        "token_end",
        "text",
        F.lit(None).cast("string").alias("content_id"),
    )
    return _xml_histogram_fused(ents, to_jats=True)


@register(
    "q266_xml_gazetteer_roundtrip",
    # the reference's SECOND gazetteer format (lookup/xml_lookup.py): a
    # TEI XML whose //tei:cell texts are the terms. The fixture TEI is
    # written from a deterministic definition (first 20 customer names
    # by name order among custkey < 100), read back through the REAL
    # binaryFile -> mapInPandas ElementTree path, and probed by a
    # membership join — the oracle restates the term set relationally.
    oracle="""
    WITH terms AS (
        SELECT lower(c_name) AS term
        FROM (SELECT c_name FROM customer WHERE c_custkey < 100
              ORDER BY c_name LIMIT 20)
    )
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           (t.term IS NOT NULL) AS is_in_gazetteer
    FROM customer c
    LEFT JOIN terms t ON t.term = lower(c.c_name)
    WHERE c.c_custkey < 40
    """,
    survey_ref="§2B scans (XML gazetteer source): lookup/xml_lookup.py "
               "load_xml_lookup_from_file — TEI //tei:cell terms, the "
               "reference's second TextLookUp format (q87 covers the "
               "text-file loader)",
    doc="XML-gazetteer round trip: a TEI table fixture is written once "
        "per session (ElementTree, so escaping is real), scanned as "
        "binaryFile, parsed to terms on executors via mapInPandas "
        "(.//tei:cell itertext — get_text_content parity), lowered and "
        "deduplicated, then broadcast-probed against customer names. "
        "A directory of gazetteer XMLs parses partition-parallel; the "
        "probe side never shuffles.",
)
def q266_xml_gazetteer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import xml.etree.ElementTree as ET

    from sciencebeam_parser_spark.sources.gazetteer import (
        add_gazetteer_flag,
        read_xml_gazetteer,
    )

    cust = table(spark, sf_dir, "customer")
    names = [
        r["c_name"]
        for r in cust.filter(F.col("c_custkey") < 100)
        .orderBy("c_name")
        .limit(20)
        .select("c_name")
        .collect()  # 20-row fixture definition, not a data path
    ]
    ET.register_namespace("", "http://www.tei-c.org/ns/1.0")
    tei = ET.Element("{http://www.tei-c.org/ns/1.0}TEI")
    tbl = ET.SubElement(
        ET.SubElement(
            ET.SubElement(tei, "{http://www.tei-c.org/ns/1.0}text"),
            "{http://www.tei-c.org/ns/1.0}body",
        ),
        "{http://www.tei-c.org/ns/1.0}table",
    )
    for name in names:
        row = ET.SubElement(tbl, "{http://www.tei-c.org/ns/1.0}row")
        ET.SubElement(row, "{http://www.tei-c.org/ns/1.0}cell").text = name
    out_dir = scratch_dir(spark, "xml_gazetteer", sf_dir)
    ET.ElementTree(tei).write(
        os.path.join(out_dir, "gazetteer.tei.xml"),
        encoding="utf-8",
        xml_declaration=True,
    )
    gz = read_xml_gazetteer(spark, out_dir)
    probe = cust.filter(F.col("c_custkey") < 40).select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    return add_gazetteer_flag(
        probe, gz, text_col="name", flag_col="is_in_gazetteer"
    )


# --------------------------------------------------------------------------
# §3.2 library API: source files → entities, one composed chain
# --------------------------------------------------------------------------

_CONVERT_BASE_SQL = _TOKENS_CTE + """,
    base AS (
        SELECT 'd' || CAST(doc_id AS VARCHAR) AS doc_id, token_seq, token,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM tokens WHERE token_seq <= 20
    )"""


@register(
    "q290_convert_pipeline",
    # the q159 ingest contract (first 20 words per file, ids re-minted as
    # 'd<id>') feeds the EXACT q88 cascade rules + final entity relation:
    # the oracle swaps only the `base` token stream, everything downstream
    # is the shared q88 SQL verbatim.
    oracle="WITH " + _CONVERT_BASE_SQL + _CASCADE_RULES_SQL
    + _CASCADE_FINAL_SQL,
    survey_ref="§3.2 Python library API (app/parser.py:516-543 "
               "get_local_file_for_response_media_type: lazy_pdf_path → "
               "lazy_alto_xml_path → parsed layout → semantic document): "
               "the reference's primary user journey as ONE composed "
               "Spark chain — A1 binaryFile scan + pdfalto sidecar → A2 "
               "ALTO parse → mock models → A28 cascade",
    doc="Source files to semantic entities end-to-end: the q159 ingest "
        "(REAL binaryFile scan over fixture files, executor-singleton "
        "pdfalto sidecar, ALTO parse) feeds the q88 cascade (mock "
        "labels → BIO → dispatch → ids → validity) in one DAG — the "
        "reference's `session.get_source(path).get_local_file_for_"
        "response_media_type(TEI_XML)` chain, corpus-wide. The TEI/JATS "
        "attachment is q90's sink over this same entity relation. At "
        "100 TB: ingest is an embarrassingly parallel scan + narrow "
        "Python stages; the cascade shuffles once per window family on "
        "doc_id.",
)
def q290_convert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same memo discipline as _shared_cascade: repeated build() calls in
    # one session (bench double-timing, tests) must not rewrite the
    # fixture corpus or strand another set of checkpoint blocks
    hit = session_memo(
        spark, ("convert", sf_dir), lambda: _build_convert(spark, sf_dir)
    )
    return hit.select(
        "doc_id", "model_name", "entity_group", "entity_type", "region",
        "n_tokens", "content_id", "target_content_id", "is_valid_reference",
    )


def _build_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = q159_pdf_alto_sidecar(spark, sf_dir)
    toks = parsed.select(
        "doc_id",
        (F.col("token_seq") + 1).cast("long").alias("token_seq"),
        "text",
    )
    # the tokens feed both the labels derivation and the cascade;
    # without a checkpoint each re-runs the WHOLE ingest (file scan +
    # sidecar + ALTO parse). The token stream checkpoints FIRST so the
    # labels derivation (and its own checkpoint) reads the stored tokens
    # instead of re-running the ingest a second time; the first query
    # over the result computes both checkpoints.
    toks = checkpoint_big(toks, "doc_id")
    toks, labels = _mock_labels_for(toks)
    labels = checkpoint_big(labels, "doc_id")
    return run_fulltext_cascade(toks, labels)
