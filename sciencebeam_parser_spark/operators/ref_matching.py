"""Citation → target content-id matching (SURVEY §2A A20).

Reference: sciencebeam_parser/processors/ref_matching.py —
``ChainedContentIdMatcher([SimpleContentIdMatcher, PartialContentIdMatcher])``
applied per document (processors/fulltext/processor.py:242-267).

Chain (first hit wins):
  1. exact normalized key (get_normalized_key_text, :19-24)
  2. token-prefix key (get_token_prefix_normalized_key_text, :27-33 —
     tokens containing digits are kept whole, others truncated to
     prefix_length BEFORE normalization)
  3. bag-of-tokens plurality vote (PartialContentIdMatcher, :66-95) with
     tie → no match.

Like the reference, the chain runs per document over dicts: citations and
targets are unioned with a side flag, and ``utils.map_documents`` builds
each document's ``{key: content_id}`` dicts (the LAST target by target_seq
wins a shared key) and token index, then resolves its citations. A
document holds a few hundred markers and targets, so the matcher is one
shuffle plus one Python stage, and building it starts no Spark job.

Deliberate deviation (documented): for stage 3 the reference returns the
*first-encountered* content id unless its count ties the second-encountered
(a Counter-insertion-order artifact). We implement the evident intent —
plurality winner, null when the top two counts tie — which matches every
reference test (tests/processors/ref_matching_test.py).

The key functions exist as Spark Columns (also used by graphic_matching)
and as the kernel's Python twins, which follow Java regex semantics (ASCII
``\\s`` and digits; ``trim`` strips only U+0020) so the two always agree.
"""
from __future__ import annotations

import re
from collections import Counter
from typing import Dict, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sciencebeam_parser_spark.utils import map_documents

# utils/tokenizer.py:10-16 — every delimiter is a single char; each becomes
# its own token (split keeps delimiters). \s covers \n\r\t\f.
# Built as an escaped alternation (like the reference DELIMITERS_REGEX) -
# a char class is too easy to get wrong with '-' and backslash in the set.
# \s is appended for ASCII whitespace; NBSP is listed explicitly (Java \s
# does not match it).
_DELIMITERS = "\u00a0 ([ \u2022*,:;?.!/#)-\u2212\u2013\u2010\"\u201c\u201d\u2018\u2019'`$]*\u2666\u2665\u2663\u2660@\u2020\u2021\u00a7\u00b6\u204b\u01c2"
_DELIM_ALTERNATION = "(" + "|".join("\\" + c for c in _DELIMITERS) + "|\\s)"

# Java regex classes (no UNICODE_CHARACTER_CLASS): \s and \d are ASCII-only,
# where Python's str patterns would also match e.g. '\x1c', '\x85', '٣'
_JAVA_SPACE = r"[ \t\n\x0b\f\r]"
_PY_SPACE_RE = re.compile(_JAVA_SPACE)
_PY_DIGIT_RE = re.compile("[0-9]")
_PY_NON_KEY_RE = re.compile("[^a-z0-9]")
_PY_DELIM_RE = re.compile(
    "(" + "|".join(re.escape(c) for c in _DELIMITERS) + "|" + _JAVA_SPACE + ")"
)


def normalized_key(col: Column) -> Column:
    """get_normalized_key_text: lowercase, strip [^a-z0-9]."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")


def normalized_key_tokens(col: Column) -> Column:
    """get_normalized_key_tokens: split on delimiters (kept as tokens), drop
    whitespace-only tokens, normalize each kept token (punctuation tokens
    normalize to '' and ARE kept — they carry votes in stage 3). The split
    fences every delimiter with \\x00, preserving punctuation tokens like
    the reference."""
    fenced = F.regexp_replace(col, _DELIM_ALTERNATION, "\x00$1\x00")
    kept = F.filter(F.split(fenced, "\x00"), lambda t: F.trim(t) != "")
    return F.transform(kept, normalized_key)


def token_prefix_key(col: Column, prefix_length: int = 1) -> Column:
    """get_token_prefix_normalized_key_text: whitespace-split; tokens with a
    digit kept whole, others truncated to prefix_length; then normalized and
    concatenated."""
    return F.array_join(
        F.transform(
            F.split(col, r"\s"),
            lambda t: normalized_key(
                F.when(t.rlike(r"\d"), t).otherwise(F.substring(t, 1, prefix_length))
            ),
        ),
        "",
    )


def _py_normalized_key(text: str) -> str:
    return _PY_NON_KEY_RE.sub("", text.lower())


def _py_normalized_key_tokens(text: str) -> List[str]:
    fenced = _PY_DELIM_RE.sub("\x00\\1\x00", text)
    return [_py_normalized_key(t) for t in fenced.split("\x00") if t.strip(" ")]


def _py_token_prefix_key(text: str, prefix_length: int = 1) -> str:
    return "".join(
        _py_normalized_key(t if _PY_DIGIT_RE.search(t) else t[:prefix_length])
        for t in _PY_SPACE_RE.split(text)
    )


class _DocMatcher:
    """One document's chain: the reference's two ``{key: content_id}``
    dicts and PartialContentIdMatcher's token index. Targets are added in
    target_seq order, so a later target overwrites an earlier one's key."""

    def __init__(self, prefix_length: int):
        self.prefix_length = prefix_length
        self.dicts: tuple = ({}, {})
        self.index: Dict[str, Counter] = {}

    def _keys(self, text: str):
        return (
            _py_normalized_key(text),
            _py_token_prefix_key(text, self.prefix_length),
        )

    def add(self, content_id, text) -> None:
        if not isinstance(text, str):
            return
        for d, key in zip(self.dicts, self._keys(text)):
            if key:
                d[key] = content_id
        for tok in _py_normalized_key_tokens(text):
            self.index.setdefault(tok, Counter())[content_id] += 1

    def match(self, text):
        if not isinstance(text, str):
            return None
        for d, key in zip(self.dicts, self._keys(text)):
            if key in d:  # '' is never a key
                return d[key]
        votes: Counter = Counter()
        for tok in _py_normalized_key_tokens(text):
            votes.update(self.index.get(tok, ()))
        top = votes.most_common(2)
        if not top or (len(top) == 2 and top[0][1] == top[1][1]):
            return None
        return top[0][0]


def match_content_ids(
    citations: DataFrame,
    targets: DataFrame,
    *,
    prefix_length: int = 1,
) -> DataFrame:
    """Resolve each citation to a target content id (or null).

    citations: (doc_id, citation_id, text); targets: (doc_id, content_id,
    text, target_seq). Returns (doc_id, citation_id, target_content_id),
    one row per citation, with doc_id typed as in the inputs.
    """
    cit = citations.select("doc_id", "citation_id", "text")
    tgt = targets.select("doc_id", "content_id", "text", "target_seq")

    def null_of(df: DataFrame, name: str) -> Column:
        return F.lit(None).cast(df.schema[name].dataType).alias(name)

    both = cit.select(
        "doc_id", "citation_id", null_of(tgt, "content_id"), "text",
        null_of(tgt, "target_seq"), F.lit(True).alias("_is_cit"),
    ).unionByName(
        tgt.select(
            "doc_id", null_of(cit, "citation_id"), "content_id", "text",
            "target_seq", F.lit(False).alias("_is_cit"),
        )
    )
    schema = T.StructType(
        [
            both.schema["doc_id"],
            both.schema["citation_id"],
            T.StructField("target_content_id", both.schema["content_id"].dataType),
        ]
    )

    def match_doc(doc_id, doc):
        is_cit = doc["_is_cit"]
        cits = doc[is_cit]
        matcher = _DocMatcher(prefix_length)
        # a null doc_id joins no target (SQL equi-join semantics)
        if doc_id is not None and len(cits):
            tgts = doc[~is_cit].sort_values(
                "target_seq", kind="stable", na_position="first"
            )
            for content_id, text in zip(tgts["content_id"], tgts["text"]):
                matcher.add(content_id, text)
        return [
            (doc_id, citation_id, matcher.match(text))
            for citation_id, text in zip(cits["citation_id"], cits["text"])
        ]

    return map_documents(both, "doc_id", match_doc, schema)
