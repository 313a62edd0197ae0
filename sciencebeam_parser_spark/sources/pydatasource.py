"""Custom Python data sources (``pyspark.sql.datasource``, the Spark 4
DataSource API) — the full engine-extension 2x2 matrix:

- batch READ (``sbp_jsonl_shards``, q239): driver-side split planning,
  one InputPartition per shard file, executor-side JSONL parsing with
  hive partition-column recovery;
- batch WRITE (``sbp_jsonl_sink``, q281): task-private files +
  WriterCommitMessage -> driver ``commit()`` manifest — the
  FileCommitProtocol contract in Python;
- stream READ (``sbp_doc_stream``, q282): SimpleDataSourceStreamReader
  paging the corpus with JSON offset dicts the engine checkpoints,
  ``readBetweenOffsets`` recovery replay;
- stream WRITE (``sbp_jsonl_stream_sink``, q283): per-micro-batch task
  shards + batchId-keyed commit manifests — exactly-once for
  manifest-honoring readers over the engine's at-least-once.

This is how the engine mounts formats and sinks only Python can speak
while keeping Spark's partition-parallel scan/write scheduling.
Reference anchor: the reference's sources/sinks are child-process
wrappers around one-file-at-a-time parsers and emitters
(``external/pdfalto/wrapper.py``, ``app/parser.py``); the DataSource
API is their Spark-native generalization.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    DataSourceStreamArrowWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from sciencebeam_parser_spark.session import session_memo

# rows per Arrow batch on the custom-source boundary: large enough to
# amortize the per-batch crossing, small enough to bound worker memory
# for arbitrarily large shard files
_ARROW_BATCH_ROWS = 50_000


class JsonlShardDataSource(DataSource):
    """Reads the hive-partitioned JSONL layout the q174 shard sink writes
    (``.../source=<shard>/part-*.json``), recovering the partition column
    from the directory name like a catalog scan would."""

    @classmethod
    def name(cls) -> str:
        return "sbp_jsonl_shards"

    def schema(self) -> str:
        return "doc_id bigint, lang string, source string, n_chars bigint"

    def reader(self, schema) -> "JsonlShardReader":
        return JsonlShardReader(self.options)


class JsonlShardReader(DataSourceReader):
    def __init__(self, options) -> None:
        self._root = options["path"]

    def partitions(self):
        # driver-side split enumeration: one InputPartition per shard
        # file — the task granularity a 100 TB layout wants (files are
        # already sized by the writer; no sub-file splitting needed for
        # line-delimited JSON at shard granularity)
        import glob
        import os

        files = sorted(
            glob.glob(
                os.path.join(self._root, "**", "*.json"), recursive=True
            )
        )
        return [InputPartition(f) for f in files]

    def read(self, partition):
        # executor-side: parse one shard file; the hive-style directory
        # name carries the partition column the writer factored out —
        # URL-unescape it and map the hive null sentinel back to NULL,
        # exactly as a catalog scan decodes partition values.  Parsed
        # rows leave the Python worker as Arrow RecordBatches (one per
        # _ARROW_BATCH_ROWS lines), not per-row pickled tuples — the
        # parse is unchanged, only the JVM crossing is columnar
        # (guide §4.1: control how efficiently columns cross).
        import json
        import re
        from urllib.parse import unquote

        import pyarrow as pa

        path = partition.value
        m = re.search(r"source=([^/]+)[/\\]", path)
        src = unquote(m.group(1)) if m else None
        if src == "__HIVE_DEFAULT_PARTITION__":
            src = None
        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        )

        def to_batch(ids, langs, chars):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(langs, pa.string()),
                    pa.array([src] * len(ids), pa.string()),
                    pa.array(chars, pa.int64()),
                ],
                schema=schema,
            )

        ids: list = []
        langs: list = []
        chars: list = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                d = json.loads(line)
                ids.append(d.get("doc_id"))
                langs.append(d.get("lang"))
                chars.append(d.get("n_chars"))
                if len(ids) >= _ARROW_BATCH_ROWS:
                    yield to_batch(ids, langs, chars)
                    ids, langs, chars = [], [], []
        if ids:
            yield to_batch(ids, langs, chars)


def register_python_datasource(spark) -> None:
    """Idempotently register the data sources with the session."""

    def register_all() -> None:
        spark.dataSource.register(JsonlShardDataSource)
        spark.dataSource.register(JsonlShardSinkDataSource)
        spark.dataSource.register(DocCorpusStreamSource)
        spark.dataSource.register(JsonlStreamSinkDataSource)

    session_memo(spark, "python_datasource", register_all)


@dataclass
class ShardCommit(WriterCommitMessage):
    """Per-task commit message: where the task wrote and how much —
    the unit the driver-side commit protocol reasons over."""

    path: str = ""
    n_rows: int = 0


class JsonlShardSinkDataSource(DataSource):
    """The WRITE half of the engine-extension surface: each executor
    task streams its rows to a private ``part-<uuid>.json`` (no two
    tasks share a file, so speculative/retried tasks can't corrupt
    each other), and the driver's ``commit()`` publishes a
    ``_MANIFEST.json`` naming exactly the files of the SUCCESSFUL
    attempt set — readers that honor the manifest never see orphan
    files from failed attempts. This is the same
    task-temp + driver-publish contract as Spark's own
    FileCommitProtocol, restated in Python for sinks only Python can
    speak (reference anchor: the asset-ZIP emitters of app/parser.py).
    """

    @classmethod
    def name(cls) -> str:
        return "sbp_jsonl_sink"

    def schema(self) -> str:
        return "doc_id bigint, lang string, n_chars bigint"

    def writer(self, schema, overwrite: bool) -> "JsonlShardWriter":
        if overwrite:
            # overwrite semantics live here, not in the caller: clear
            # prior shards + manifest so disk matches the new manifest
            import glob
            import os

            root = self.options["path"]
            for p in glob.glob(os.path.join(root, "part-*.json")) + [
                os.path.join(root, "_MANIFEST.json")
            ]:
                if os.path.exists(p):
                    os.remove(p)
        return JsonlShardWriter(self.options["path"])


class JsonlShardWriter(DataSourceArrowWriter):
    def __init__(self, root: str) -> None:
        self._root = root

    def write(self, iterator) -> ShardCommit:
        # executor-side: one private file per task attempt.  Rows arrive
        # as Arrow RecordBatches (DataSourceArrowWriter) instead of
        # per-row pickled Rows — same JSONL bytes out, columnar crossing
        # in (guide §4.1).
        import json
        import os
        import uuid

        os.makedirs(self._root, exist_ok=True)
        path = os.path.join(self._root, f"part-{uuid.uuid4().hex}.json")
        n = 0
        with open(path, "w", encoding="utf-8") as fh:
            for batch in iterator:
                for d in batch.to_pylist():
                    fh.write(json.dumps(d) + "\n")
                    n += 1
        return ShardCommit(path=path, n_rows=n)

    def commit(self, messages) -> None:
        # driver-side publish: the manifest is the source of truth for
        # which files belong to the committed write
        import json
        import os

        shards = [
            {"path": os.path.basename(m.path), "n_rows": m.n_rows}
            for m in messages
            if m is not None
        ]
        manifest = {
            "n_shards": len(shards),
            "n_rows": sum(s["n_rows"] for s in shards),
            "shards": sorted(shards, key=lambda s: s["path"]),
        }
        # atomic publish: write-temp + rename so a concurrent reader
        # never observes a truncated manifest
        final = os.path.join(self._root, "_MANIFEST.json")
        tmp = final + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, final)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class DocCorpusStreamSource(DataSource):
    """The STREAM half of the engine-extension surface: a Python
    streaming source replaying the document corpus in deterministic
    doc_id order, ``batchSize`` rows per micro-batch.

    Uses the SIMPLE stream-reader protocol: ``read(start)`` runs in the
    driver-side Python worker and returns (rows, nextOffset); Spark
    persists each prefetched batch so ``readBetweenOffsets`` only
    replays on recovery. Offsets are plain dicts (JSON row positions) —
    exactly-once comes from the engine checkpointing those offsets, not
    from the source. Reference anchor: the request-polling loops of
    app/parser.py, here as a restartable offset-tracked stream.
    """

    @classmethod
    def name(cls) -> str:
        return "sbp_doc_stream"

    def schema(self) -> str:
        return "doc_id bigint, lang string, n_chars bigint"

    def simpleStreamReader(self, schema) -> "DocCorpusStreamReader":
        return DocCorpusStreamReader(self.options)


class DocCorpusStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self._path = options["path"]
        self._batch = int(options.get("batchSize", "200"))
        self._rows: list | None = None

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _corpus(self) -> list:
        # Sort the offset index ONCE per reader lifetime, not once per
        # micro-batch: the previous shape re-read and re-sorted the
        # parquet on every read()/readBetweenOffsets() call — O(batches
        # x n log n) driver-side work that grows with replay length.
        # The cached rows are the stream's OFFSET INDEX (id, lang,
        # n_chars — tens of bytes/doc, no payload), which is exactly
        # what a driver-paged simple reader must be able to hold; the
        # payload-bearing data plane is the partition-parallel batch
        # reader in this module.
        if self._rows is None:
            import os

            import duckdb

            # directory layout: read every part file (global doc_id
            # order holds across parts, so offset pagination stays
            # correct)
            path = (
                os.path.join(self._path, "*.parquet")
                if os.path.isdir(self._path)
                else self._path
            )
            self._rows = [
                tuple(r)
                for r in duckdb.sql(
                    "SELECT doc_id, lang, n_chars FROM read_parquet(?) "
                    "ORDER BY doc_id",
                    params=[path],
                ).fetchall()
            ]
        return self._rows

    def _load(self, lo: int, hi: int):
        return self._corpus()[lo:hi]

    def read(self, start: dict):
        pos = start["pos"]
        rows = self._load(pos, pos + self._batch)
        return iter(rows), {"pos": pos + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._load(start["pos"], end["pos"]))

    def commit(self, end: dict) -> None:
        pass


class JsonlStreamSinkDataSource(DataSource):
    """The STREAMING-WRITE quarter of the engine-extension matrix
    (q239 batch read / q281 batch write / q282 stream read): per
    micro-batch, each task writes a private shard and the driver's
    ``commit(messages, batchId)`` publishes ``_batch-<id>.json`` naming
    that batch's files — at-least-once delivery from the engine becomes
    exactly-once for manifest-honoring readers, because a retried batch
    re-publishes the SAME batchId manifest (last write wins) and orphan
    shards from failed attempts are never listed."""

    @classmethod
    def name(cls) -> str:
        return "sbp_jsonl_stream_sink"

    def schema(self) -> str:
        # sinks take the incoming stream's schema; this is the default
        return "doc_id bigint, lang string, n_chars bigint"

    def streamWriter(self, schema, overwrite: bool) -> "JsonlStreamWriter":
        return JsonlStreamWriter(self.options["path"])


class JsonlStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, root: str) -> None:
        self._root = root

    def write(self, iterator) -> ShardCommit:
        # per-micro-batch task shard; Arrow RecordBatches in (see
        # JsonlShardWriter), identical JSONL shards out
        import json
        import os
        import uuid

        os.makedirs(self._root, exist_ok=True)
        path = os.path.join(self._root, f"shard-{uuid.uuid4().hex}.json")
        n = 0
        with open(path, "w", encoding="utf-8") as fh:
            for batch in iterator:
                for d in batch.to_pylist():
                    fh.write(json.dumps(d) + "\n")
                    n += 1
        return ShardCommit(path=path, n_rows=n)

    def commit(self, messages, batchId: int) -> None:
        import json
        import os

        shards = sorted(
            os.path.basename(m.path) for m in messages if m is not None
        )
        # atomic publish (tmp + rename): the driver-side poll in q283
        # reads these concurrently, and a batch retry replaces the SAME
        # batchId manifest in one atomic step (last write wins)
        final = os.path.join(self._root, f"_batch-{batchId}.json")
        tmp = final + f".{batchId}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"batch_id": batchId, "shards": shards}, fh)
        os.replace(tmp, final)

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
