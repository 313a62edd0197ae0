"""Append-only persisted MinHash-LSH band index (VERDICT r6 #1, r7 #3/#4).

The streaming incremental-dedup loop (q296) must maintain a band index
across micro-batches.  The naive accumulator shape — ``union`` the new
bands into the in-memory index, ``distinct`` the FULL merged relation and
re-materialize it per batch — pays O(total index) per arriving increment,
i.e. quadratic total work in the number of batches: the classic
daily-rewrite compaction anti-shape at 100 TB.

This store keeps the accumulate-don't-rebuild shape (reference analog:
the training pipeline's cache that appends new documents instead of
regenerating, ``training/cli/generate_data.py:51-56``) and, since round
8, rides the SAME versioned-manifest OCC protocol as the lakehouse verbs
(q297/q299–q302, ``sinks/versioned_manifest.py``) instead of a private
last-write-wins ``_MANIFEST.json``:

* ``append(bands, batch_id)`` writes ONLY the batch's own band rows,
  PARTITIONED BY ``band_idx`` (``repartition(N, band_idx)`` +
  ``partitionBy`` — one file per band cell), then commits a new table
  version whose entries carry per-cell stats: ``(path, batch_id,
  band_idx, min_hash, max_hash, rows, bytes)``.  A retried batch
  overwrites the SAME ``bands-batch-<id>`` path (idempotent re-delivery
  is not a conflict) and its commit replaces that batch's entries.
* version commits are put-if-absent (O_EXCL): a concurrent writer's
  conflict is observed, the transaction re-reads the winner's snapshot,
  re-validates, and retries — append vs compact races resolve exactly
  like Delta's optimistic protocol (compaction aborts if its source
  entries vanished; its orphan files wait for VACUUM).
* ``probe(bands)`` computes the increment's per-band (min, max) hash
  envelope in ONE fused agg job, PRUNES manifest entries to the bands
  it touches (and to overlapping hash ranges — q299's stats-skipping
  rule), and ``left_semi``-joins only the surviving files.  An
  increment touching 1 of 8 bands reads 1/8 of the index.
* every ``compact_every`` appends, undersized per-band cells are
  bin-packed (next-fit in manifest order — the q257 packing rule) and
  rewritten sorted by ``band_hash`` (tight parquet row-group stats for
  row-group skipping at scale); the OPTIMIZE commit swaps the entries.
  Pre-compaction files stay on disk until ``vacuum()`` deletes
  everything the retained versions no longer reference.

Per-batch cost is O(batch write) + O(pruned probe scan), and the
behavior counters (``rows_written_per_append``, ``rows_compacted``,
``probe_entries_total`` / ``probe_entries_scanned``) make that pinnable
in tests: the write path must never write more rows than the batch
produced, and a subset-band probe must scan fewer entries than the
manifest lists.

At 100 TB the shards live on the object store (the put-if-absent commit
becomes the store's conditional PUT), per-band cells keep the semi-join
pruned, and per-bin compaction rewrites submit as concurrent jobs.
"""
from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sciencebeam_parser_spark.sinks.versioned_manifest import (
    ManifestConflictError,
    commit_version,
    read_head,
    read_version,
)

_CELL_SCHEMA = "band_hash string"  # band_idx is the partition/entry key


def _dir_files(path: str) -> List[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def _cell_stats(path: str) -> Dict:
    """rows / bytes / min-max band_hash from the parquet footers only."""
    import pyarrow.parquet as pq

    rows = 0
    nbytes = 0
    mn: Optional[str] = None
    mx: Optional[str] = None
    for f in _dir_files(path):
        pf = pq.ParquetFile(f)
        rows += pf.metadata.num_rows
        nbytes += os.path.getsize(f)
        schema_names = [
            pf.metadata.schema.column(i).name
            for i in range(pf.metadata.num_columns)
        ]
        col = schema_names.index("band_hash")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(col).statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                lo = lo.decode("utf-8", "replace")
            if isinstance(hi, bytes):
                hi = hi.decode("utf-8", "replace")
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
    return {"rows": rows, "bytes": nbytes, "min_hash": mn, "max_hash": mx}


class AppendOnlyBandStore:
    """Versioned, band-partitioned, stats-pruned LSH band index."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        compact_every: int = 0,
        target_bytes: int = 64 * 1024 * 1024,
        max_shard_files: int = 8,
    ):
        self.spark = spark
        self.root = root
        os.makedirs(self.root, exist_ok=True)
        self.compact_every = compact_every
        self.target_bytes = target_bytes
        # cap on write tasks per append: repartition(N, band_idx) +
        # partitionBy gives ONE file per band cell regardless of the
        # upstream partition count (32 tiny files per increment cost
        # q296 ~3-6 s in footer reads before this). At 100 TB raise it
        # so big increments write cell files in parallel.
        self.max_shard_files = max_shard_files
        # behavior counters — the O(batch)-not-O(index) pin reads these
        self.rows_written_per_append: List[int] = []
        self.rows_compacted = 0
        self.n_compactions = 0
        self.n_conflicts = 0  # OCC losses observed (then retried)
        self.probe_entries_total: List[int] = []
        self.probe_entries_scanned: List[int] = []
        self._appends_since_compact = 0

    # -- versioned manifest protocol (sinks/versioned_manifest.py) ---------

    def entries(self) -> List[dict]:
        head = read_head(self.root)
        if head is None:
            return []
        return read_version(self.root, head)

    def shards(self) -> List[str]:
        """Distinct top-level shard dir names in the current version."""
        seen: List[str] = []
        for e in self.entries():
            top = e["path"].split("/", 1)[0]
            if top not in seen:
                seen.append(top)
        return seen

    def _commit_transform(
        self, fn: Callable[[List[dict]], Optional[List[dict]]]
    ) -> None:
        """OCC loop: read snapshot → transform entries → put-if-absent.

        ``fn`` returns the next version's full entry list, or ``None``
        to abort (idempotent skip / failed re-validation).  On a
        conflict the WINNER's snapshot is re-read and ``fn`` re-runs
        against it — the Delta optimistic-transaction shape.
        """
        while True:
            head = read_head(self.root)
            entries = read_version(self.root, head) if head is not None else []
            new_entries = fn(entries)
            if new_entries is None:
                return
            version = 0 if head is None else head + 1
            try:
                commit_version(self.root, version, new_entries)
                return
            except ManifestConflictError:
                self.n_conflicts += 1
                continue

    # -- read/probe path ----------------------------------------------------

    def _read_entries(self, entries: List[dict]) -> Optional[DataFrame]:
        """Union of per-band cell scans, band_idx re-attached per entry.

        Cells are grouped by band_idx so the plan is one scan + one
        literal column per band, not one per entry.
        """
        if not entries:
            return None
        by_band: Dict[int, List[str]] = {}
        for e in entries:
            by_band.setdefault(e["band_idx"], []).append(
                os.path.join(self.root, e["path"])
            )
        parts = [
            self.spark.read.schema(_CELL_SCHEMA)
            .parquet(*paths)
            .select(F.lit(band).cast("int").alias("band_idx"), "band_hash")
            for band, paths in sorted(by_band.items())
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read_index(self) -> Optional[DataFrame]:
        return self._read_entries(self.entries())

    def probe(self, bands_df: DataFrame) -> DataFrame:
        """doc_ids of ``bands_df`` whose bands collide with the index.

        Stats-pruned read-only scan: ONE fused agg job computes the
        increment's per-band (min, max) hash envelope; manifest entries
        outside the touched bands — or whose footer-stat hash range
        cannot overlap (q299's skipping rule) — are never read.  The
        semi-join keeps duplicate index rows harmless, so nothing is
        rewritten.
        """
        entries = self.entries()
        if not entries:
            return bands_df.select("doc_id").limit(0)
        # fused gate probe (one job — r6 learning: never count()+first())
        env = {
            r["band_idx"]: (r["mn"], r["mx"])
            for r in bands_df.groupBy("band_idx")
            .agg(F.min("band_hash").alias("mn"), F.max("band_hash").alias("mx"))
            .collect()
        }
        picked = [
            e
            for e in entries
            if e["band_idx"] in env
            and (
                e.get("min_hash") is None
                or e["min_hash"] <= env[e["band_idx"]][1]
            )
            and (
                e.get("max_hash") is None
                or e["max_hash"] >= env[e["band_idx"]][0]
            )
        ]
        self.probe_entries_total.append(len(entries))
        self.probe_entries_scanned.append(len(picked))
        index = self._read_entries(picked)
        if index is None:
            return bands_df.select("doc_id").limit(0)
        return (
            bands_df.join(index, ["band_idx", "band_hash"], "left_semi")
            .select("doc_id")
            .distinct()
        )

    # -- write path -----------------------------------------------------------

    def append(self, bands_df: DataFrame, batch_id: int) -> None:
        """Append ONLY this batch's bands, keyed by batchId.

        A retried batch overwrites the same shard path (last write wins
        on content) and its commit REPLACES that batch's entries — no
        full-index distinct, no conflict (re-delivery is idempotent by
        key; only version numbers are contended).
        """
        shard = f"bands-batch-{batch_id:08d}"
        path = os.path.join(self.root, shard)
        (
            bands_df.select("band_idx", "band_hash")
            .repartition(self.max_shard_files, "band_idx")
            .write.mode("overwrite")
            .partitionBy("band_idx")
            .parquet(path)
        )
        new_entries: List[dict] = []
        total_rows = 0
        for name in sorted(os.listdir(path)):
            if not name.startswith("band_idx="):
                continue
            band = int(name.split("=", 1)[1])
            stats = _cell_stats(os.path.join(path, name))
            total_rows += stats["rows"]
            new_entries.append(
                {
                    "path": f"{shard}/{name}",
                    "batch_id": batch_id,
                    "band_idx": band,
                    **stats,
                }
            )
        self.rows_written_per_append.append(total_rows)

        def swap(entries: List[dict]) -> List[dict]:
            kept = [e for e in entries if e.get("batch_id") != batch_id]
            return kept + new_entries

        self._commit_transform(swap)
        self._appends_since_compact += 1
        if self.compact_every and self._appends_since_compact >= self.compact_every:
            self.compact()

    # -- compaction (the q257 plan, executed as an OPTIMIZE commit) -----------

    def compact(self) -> None:
        """Bin-pack undersized per-band cells; OCC-swap the entries.

        Next-fit over the manifest-ordered cell inventory WITHIN each
        band (bands never merge — that would destroy probe pruning):
        each bin's cells are read back, flattened with
        ``dropDuplicates`` (the deferred ``distinct`` the write path
        skips), sorted by ``band_hash`` (tight row-group stats), and
        rewritten as ONE cell.  Output names carry a fresh nonce, so a
        re-opened store or a racing compactor can never clobber a
        still-referenced file (ADVICE r7: the old per-instance
        generation counter reset to 0 and could).  The commit
        re-validates that every source entry is still present — if a
        concurrent OPTIMIZE took them, this one aborts and its orphan
        output waits for ``vacuum()``.  Old cells are NOT deleted here:
        time travel to prior versions stays intact until vacuum.
        """
        self._appends_since_compact = 0
        snapshot = self.entries()
        small = [e for e in snapshot if e["bytes"] < self.target_bytes]
        if len(small) < 2:
            return
        # next-fit packing in manifest order, per band (q257's rule)
        bins: Dict[int, List[List[dict]]] = {}
        running: Dict[int, int] = {}
        for e in small:
            band = e["band_idx"]
            bin_id = running.get(band, 0) // self.target_bytes
            band_bins = bins.setdefault(band, [])
            if bin_id >= len(band_bins):
                band_bins.append([])
            band_bins[bin_id].append(e)
            running[band] = running.get(band, 0) + e["bytes"]
        nonce = uuid.uuid4().hex[:8]
        replaced_paths = set()
        new_entries: List[dict] = []
        for band, band_bins in sorted(bins.items()):
            for i, members in enumerate(band_bins):
                if len(members) < 2:
                    # a lone undersized cell: rewriting it merges nothing
                    continue
                out = f"compact-{nonce}-band{band:02d}-b{i:04d}"
                out_path = os.path.join(self.root, out)
                (
                    self.spark.read.schema(_CELL_SCHEMA)
                    .parquet(
                        *[os.path.join(self.root, m["path"]) for m in members]
                    )
                    .dropDuplicates(["band_hash"])
                    .coalesce(1)
                    .sortWithinPartitions("band_hash")
                    .write.mode("overwrite")
                    .parquet(out_path)
                )
                stats = _cell_stats(out_path)
                self.rows_compacted += stats["rows"]
                replaced_paths.update(m["path"] for m in members)
                new_entries.append(
                    {
                        "path": out,
                        "batch_id": None,  # multi-batch merged cell
                        "band_idx": band,
                        **stats,
                    }
                )
        if not new_entries:
            return

        def swap(entries: List[dict]) -> Optional[List[dict]]:
            current = {e["path"] for e in entries}
            if not replaced_paths <= current:
                # a concurrent OPTIMIZE already rewrote some source cell:
                # abort — the orphan output is vacuum's problem
                return None
            kept = [e for e in entries if e["path"] not in replaced_paths]
            return kept + new_entries

        self._commit_transform(swap)
        self.n_compactions += 1

    # -- vacuum (pre-compaction shard reclamation, VERDICT r7 #4) -------------

    def vacuum(self, retain_versions: int = 1) -> List[str]:
        """Delete data no retained version references; return deletions.

        Referenced = entry paths of the newest ``retain_versions``
        manifests.  Everything else under the root — superseded
        pre-compaction cells, aborted-compaction orphans, crashed
        uncommitted appends — is removed, along with manifests older
        than the retention window (time travel past it is gone by
        definition once its files are).  Driver-side work is O(#files),
        no Spark job.
        """
        head = read_head(self.root)
        if head is None:
            return []
        keep_versions = range(max(0, head - retain_versions + 1), head + 1)
        referenced = set()
        for v in keep_versions:
            try:
                for e in read_version(self.root, v):
                    referenced.add(e["path"])
            except FileNotFoundError:
                continue  # already vacuumed past
        deleted: List[str] = []
        for top in sorted(os.listdir(self.root)):
            top_path = os.path.join(self.root, top)
            if top.startswith("_") or not os.path.isdir(top_path):
                if (
                    top.startswith("_MANIFEST-v")
                    and int(top[len("_MANIFEST-v"):].split(".")[0])
                    < keep_versions.start
                ):
                    os.remove(top_path)
                continue
            if top.startswith("bands-batch-"):
                # cell-granular: a batch's band cells can be compacted
                # independently
                for name in sorted(os.listdir(top_path)):
                    rel = f"{top}/{name}"
                    if name.startswith("band_idx=") and rel not in referenced:
                        shutil.rmtree(
                            os.path.join(top_path, name), ignore_errors=True
                        )
                        deleted.append(rel)
                if not any(
                    n.startswith("band_idx=") for n in os.listdir(top_path)
                ):
                    shutil.rmtree(top_path, ignore_errors=True)
            elif top not in referenced:
                shutil.rmtree(top_path, ignore_errors=True)
                deleted.append(top)
        return deleted

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
