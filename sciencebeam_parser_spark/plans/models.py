"""Model stage protocol (SURVEY §2A A11/A12).

Reference: models/model_impl.py (ModelImpl interface), wapiti subprocess
wrapper (models/wapiti_model_impl.py:25-164, 20 s timeout + retry +
process-reuse) and delft in-process impl; batch assembly packs N documents
into one prediction call with blank-line separators and splits results back
(models/model.py:207-214, 289-355).

Spark mapping: ``utils.map_documents`` replaces the manual batch marker
protocol: it co-locates each document's tokens, batches many documents
into one Python pass per partition, and hands each document to the model
sorted by token_seq (order is not preserved through shuffles). The model
implementation is pluggable:

* ``FunctionLabelModel`` — a deterministic function (the mock-model trick,
  tests/processors/fulltext/model_mocks.py:46-135)
* ``WeightTableLabelModel`` — a JSON weight-table artifact loaded once per
  Python worker (the A32 executor-singleton pattern a wapiti/delft sidecar
  model would use too)
* ``DataFrameLabelModel`` — labels provided as an F2 token_labels table
  (pure join, no UDF at all)

The alignment assert (models/model.py:317-327) is preserved: a model must
return exactly one label per input token.
"""
from __future__ import annotations

from itertools import repeat
from typing import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sciencebeam_parser_spark.utils import executor_singleton, map_documents

LABELS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("token_seq", T.LongType()),
        T.StructField("model_name", T.StringType()),
        T.StructField("label", T.StringType()),
    ]
)


class _PythonLabelModel:
    """A model that labels one document at a time in Python: subclasses
    give ``doc_labeler()``, a picklable function from one document's tokens
    (sorted by token_seq) to its labels."""

    name: str

    def doc_labeler(self) -> Callable[[pd.DataFrame], Sequence[str]]:
        raise NotImplementedError

    def apply(self, tokens: DataFrame) -> DataFrame:
        name, label_doc = self.name, self.doc_labeler()

        def label(doc_id, doc):
            labels = list(label_doc(doc))
            # alignment assert (models/model.py:317-327)
            if len(labels) != len(doc):
                raise ValueError(
                    f"model {name}: {len(labels)} labels for "
                    f"{len(doc)} tokens"
                )
            return zip(repeat(doc_id), doc["token_seq"], repeat(name), labels)

        return map_documents(
            tokens.select("doc_id", "token_seq", "text"),
            "doc_id",
            label,
            LABELS_OUT_SCHEMA,
            order_by="token_seq",
        )


class FunctionLabelModel(_PythonLabelModel):
    """Deterministic per-token labeling function — executor-side, no state.

    ``fn(texts: list[str]) -> list[str]`` labels one document's tokens in
    document order (the ModelImpl.predict_labels contract for one doc).
    """

    def __init__(self, name: str, fn: Callable[[Sequence[str]], Sequence[str]]):
        self.name = name
        self.fn = fn

    def doc_labeler(self) -> Callable[[pd.DataFrame], Sequence[str]]:
        fn = self.fn
        return lambda doc: fn(list(doc["text"]))


class WeightTableLabelModel(_PythonLabelModel):
    """A real (non-injected) sequence-labeling model: a linear scorer over
    binary token features with a JSON weight-table ARTIFACT, distributed to
    executors via SparkContext.addFile and lazily loaded once per Python
    worker (the LazyLoaded/executor-singleton protocol the wapiti impl
    uses — models/wapiti_model_impl.py:111-121, utils/lazy.py).

    Decode modes:

    * ``argmax`` — per-token argmax of feature-weight sums (maxent-style);
      ties break on label string ascending. Deterministic weights make the
      decode SQL-restatable, so the query carries a full oracle.
    * ``viterbi`` — first-order Viterbi with a transition weight table
      (CRF-style decode); exercised by unit tests against brute-force
      enumeration (the DP itself is not SQL-expressible).

    Features (models/data.py shape/position family, binary):
      bias (always), alldigit (^[0-9]+$), len5 (len >= 5),
      first3 (token_seq <= 3).
    """

    FEATURES = ("bias", "alldigit", "len5", "first3")

    def __init__(self, name: str, artifact_name: str, decode: str = "argmax"):
        self.name = name
        self.artifact_name = artifact_name
        self.decode = decode

    @classmethod
    def distribute(
        cls,
        spark,
        name: str,
        weights: dict,
        transitions: dict | None = None,
        decode: str = "argmax",
    ) -> "WeightTableLabelModel":
        """Write the weight table as a JSON artifact and ship it to every
        executor (addFile = the download_manager/model-distribution path)."""
        import json
        import os

        from sciencebeam_parser_spark.session import scratch_dir

        artifact = f"sbp_model_{name}.json"
        path = os.path.join(scratch_dir(spark, "model"), artifact)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"weights": weights, "transitions": transitions or {}}, f)
        spark.sparkContext.addFile(path)
        return cls(name, artifact, decode=decode)

    @staticmethod
    def _load_artifact(artifact_name: str) -> dict:
        import json

        from pyspark import SparkFiles

        with open(SparkFiles.get(artifact_name), encoding="utf-8") as f:
            return json.load(f)

    @staticmethod
    def _features(text: str, token_seq: int) -> list:
        feats = ["bias"]
        if text.isdigit():
            feats.append("alldigit")
        if len(text) >= 5:
            feats.append("len5")
        if token_seq <= 3:
            feats.append("first3")
        return feats

    @classmethod
    def _decode_doc(
        cls, texts, seqs, weights: dict, transitions: dict, mode: str
    ) -> list:
        labels = sorted(weights)
        emit = [
            [
                sum(weights[lb].get(f, 0.0) for f in cls._features(t, s))
                for lb in labels
            ]
            for t, s in zip(texts, seqs)
        ]
        if mode == "argmax" or not transitions:
            # max score, ties to the lexicographically smallest label
            tags = [
                labels[max(range(len(labels)), key=lambda i: (e[i], -i))]
                for e in emit
            ]
        else:
            # first-order Viterbi DP; ties resolved toward the smaller
            # label index at every step (deterministic)
            n, k = len(emit), len(labels)
            score = list(emit[0])
            back: list = []
            for t in range(1, n):
                prev = score
                score = []
                back.append([])
                for j in range(k):
                    best_i = max(
                        range(k),
                        key=lambda i: (
                            prev[i]
                            + transitions.get(labels[i], {}).get(
                                labels[j], 0.0
                            ),
                            -i,
                        ),
                    )
                    back[-1].append(best_i)
                    score.append(
                        prev[best_i]
                        + transitions.get(labels[best_i], {}).get(
                            labels[j], 0.0
                        )
                        + emit[t][j]
                    )
            j = max(range(k), key=lambda i: (score[i], -i))
            path = [j]
            for bp in reversed(back):
                j = bp[j]
                path.append(j)
            tags = [labels[i] for i in reversed(path)]
        # BIO prefixes: B- on tag change, I- inside a run
        # (iter_entity_layout_blocks_for_labeled_layout_tokens contract)
        out = []
        prev_tag = None
        for tag in tags:
            out.append(("B-" if tag != prev_tag else "I-") + tag)
            prev_tag = tag
        return out

    def doc_labeler(self) -> Callable[[pd.DataFrame], Sequence[str]]:
        artifact, mode = self.artifact_name, self.decode
        decode_doc, load = self._decode_doc, self._load_artifact

        def label_doc(doc):
            model = executor_singleton(
                f"weight_model:{artifact}", lambda: load(artifact)
            )
            return decode_doc(
                list(doc["text"]), list(doc["token_seq"]),
                model["weights"], model["transitions"], mode,
            )

        return label_doc


class DataFrameLabelModel:
    """Labels from a pre-built F2 token_labels table — the fully-relational
    mock: model inference becomes an equi-join (no Python at all)."""

    def __init__(self, name: str, labels: DataFrame):
        self.name = name
        self.labels = labels.filter(F.col("model_name") == name)

    def apply(self, tokens: DataFrame) -> DataFrame:
        return (
            tokens.select("doc_id", "token_seq")
            .join(self.labels, ["doc_id", "token_seq"], "inner")
            .select("doc_id", "token_seq", "model_name", "label")
        )


def apply_model(tokens: DataFrame, model) -> DataFrame:
    """Run a model stage: (doc_id, token_seq, text, …) → F2 labels rows."""
    return model.apply(tokens)
