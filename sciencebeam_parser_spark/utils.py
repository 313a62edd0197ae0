"""Executor-side lazy singletons (SURVEY §2A A32).

Reference: utils/lazy.py ``LazyLoaded`` + the wapiti/LibreOffice/tesseract
process-reuse pattern (models/wapiti_model_impl.py:111-121) — expensive
resources (model binaries, sidecar processes, OCR handles) load once per
process and are reused across tasks. In Spark the analog is a module-level
registry keyed by name: each *executor* Python worker initializes the
resource on first UDF call and every subsequent task on that worker reuses
it. ``preload`` mirrors ``preload_on_startup`` (eager init at job start via
a dummy mapPartitions pass).
"""
from __future__ import annotations

import threading
from typing import Any, Callable, Dict

_SINGLETONS: Dict[str, Any] = {}
_LOCK = threading.Lock()
_AQE = "spark.sql.adaptive.enabled"
_AQE_FLIP_LOCK = threading.Lock()


def executor_singleton(name: str, factory: Callable[[], Any]) -> Any:
    """Return the process-wide instance for `name`, creating it on first
    call (thread-safe: Spark python workers can run multiple task threads)."""
    inst = _SINGLETONS.get(name)
    if inst is not None:
        return inst
    with _LOCK:
        inst = _SINGLETONS.get(name)
        if inst is None:
            inst = factory()
            _SINGLETONS[name] = inst
    return inst


def reset_singletons() -> None:
    """Testing hook: drop all cached instances in this process."""
    with _LOCK:
        _SINGLETONS.clear()


def preload(spark, name: str, factory: Callable[[], Any]) -> None:
    """Eagerly initialize an executor singleton on every worker —
    ``preload_on_startup`` (models/model.py:251-269, config.yml) in Spark
    form: one dummy task per core forces ``executor_singleton(name,
    factory)`` before the first real query needs it, so model/sidecar
    startup cost is paid at job start, not inside the first batch."""
    n = spark.sparkContext.defaultParallelism

    def init_partition(it):
        executor_singleton(name, factory)
        return iter(())

    spark.sparkContext.parallelize(range(n), n).mapPartitions(
        init_partition
    ).count()


def repartition_for_python(df, *cols):
    """Co-locate rows by `cols` across EXACTLY defaultParallelism partitions
    for a CPU-bound pandas stage.

    A bare ``repartition(col)`` participates in AQE partition coalescing,
    which sizes partitions by BYTES — a few MB of entity rows collapse into
    one partition, serializing the downstream Python work (measured: the
    TEI sink ran single-threaded, ~10s instead of ~1s at sf0.1). An
    explicit partition count is exempt from coalescing, keeping every core
    busy regardless of how small the shuffled bytes are. On a cluster,
    defaultParallelism scales with total executor cores, so the same call
    stays right at any size.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def map_documents(df, keys, fn, schema, *, order_by=None):
    """Run ``fn`` once per document (one group of `keys`) in Python.

    The reference packs many documents into one prediction call and splits
    the results back per document (models/model.py:207-214). Here:

    - :func:`repartition_for_python` co-locates each group, so a group never
      spans partitions and every core gets a share;
    - one ``mapInPandas`` pass per partition, whose batches are concatenated
      once: documents average a few dozen rows, so a
      ``groupBy().applyInPandas`` would pay one Arrow roundtrip each;
    - a pandas ``groupby(keys, sort=False, dropna=False)`` hands each group
      to ``fn(key, group)``. A null key is a group of its own and arrives as
      ``None`` (a tuple of values, ``None`` for nulls, when `keys` is a
      list);
    - with `order_by`, each group is sorted stably on it first (row order
      does not survive a shuffle);
    - ``fn`` returns an iterable of row tuples in `schema` field order, and
      the partition's rows become one ``DataFrame.from_records``. Row tuples
      are the only output form, since a grammar fold emits many tiny groups
      and a frame per group would cost more than the fold.

    An empty partition yields nothing. The plan is one ``Exchange
    hashpartitioning`` plus one ``MapInPandas``, and building it starts no
    Spark job. When the input is already co-located on `keys` (a
    :func:`checkpoint_big` on the same columns, or a union of such
    checkpoints) there is no Exchange: the ``MapInPandas`` reads the
    checkpoint's partitions as they are.
    """
    import pandas as pd

    cols = [keys] if isinstance(keys, str) else list(keys)
    by = keys if isinstance(keys, str) else cols
    columns = [f.name for f in schema.fields]

    def none_for_nan(key):
        if isinstance(key, tuple):
            return tuple(None if pd.isna(k) else k for k in key)
        return None if pd.isna(key) else key

    def map_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        rows = []
        for key, group in pdf.groupby(by, sort=False, dropna=False):
            if order_by is not None:
                group = group.sort_values(order_by, kind="stable")
            rows.extend(fn(none_for_nan(key), group))
        if rows:
            yield pd.DataFrame.from_records(rows, columns=columns)

    return repartition_for_python(df, *cols).mapInPandas(map_partition, schema)


def checkpoint_big(df, *cols):
    """Store a corpus-sized relation once for multi-branch reuse.

    Four differences from a bare ``localCheckpoint()``:

    - repartition first (by `cols`, defaultParallelism-wide via
      :func:`repartition_for_python`): explode-derived relations inherit
      the pre-explode scan's input-split sizing, so a handful of tasks
      would each materialize a multi-GB partition (learned at the 100x
      scale smoke).
    - the result keeps that layout: Spark knows it is
      ``hashpartitioning(cols, defaultParallelism)``, so a later
      :func:`repartition_for_python` or :func:`map_documents` on the same
      `cols` adds no Exchange, and neither does one over a union of such
      checkpoints (``spark.sql.unionOutputPartitioning``). The checkpoint
      copies the partitioning its executed plan reports, and an adaptive
      (AQE) plan reports none, so with `cols` the call plans with
      ``spark.sql.adaptive.enabled=false``. The flip is session-wide while
      the call plans (other threads' queries on the session plan without
      AQE meanwhile); no job runs under it, and the previous value is
      restored afterwards, also when planning raises. The plan upstream of
      the checkpoint loses AQE's runtime re-planning (broadcast switch,
      skew split, coalescing). A key-less checkpoint has no layout to keep
      and plans with AQE as the session has it, so an aggregate upstream
      is still coalesced.
    - the relation is stored lazily: the call runs no job for it. The
      first action that reads the checkpoint computes each partition once
      and stores it; later actions read the stored blocks, so values are
      fixed by that first compute (a ``uuid()`` or ``rand()`` column reads
      the same in every consumer), and an error in computing it surfaces
      at that action, not here. Planning still runs what a physical plan
      needs before it can execute: a key-less checkpoint over an adaptive
      plan runs the upstream shuffle map stages (AQE plans the final stage
      from their statistics), and a broadcast upstream is collected.
    - store DISK_ONLY: the default MEMORY_AND_DISK level unrolls
      deserialized rows in the executor heap before spilling; with every
      core concurrently pinning a large partition the JVM OOMs
      (observed: q88 at 100x, GCLocker allocation failures in the
      checkpoint stage). Disk-serialized blocks stream through a bounded
      write buffer instead, and downstream reads pay one deserialization
      pass — amortized when the relation feeds several queries.

    Aggregate-sized relations (vocabularies, centroids, bucket counts)
    should keep plain ``localCheckpoint()``: they are small and re-read
    hot, so the in-memory level is right for them.
    """
    from pyspark import StorageLevel

    if not cols:
        # no key layout to keep: AQE may coalesce the upstream shuffle
        return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    df = repartition_for_python(df, *cols)
    conf = df.sparkSession.conf
    # one checkpoint at a time, so that a second thread never reads the
    # first one's "false" as the value to restore
    with _AQE_FLIP_LOCK:
        aqe = conf.get(_AQE)
        conf.set(_AQE, "false")
        try:
            return df.localCheckpoint(
                eager=False, storageLevel=StorageLevel.DISK_ONLY
            )
        finally:
            conf.set(_AQE, aqe)


__all__ = [
    "checkpoint_big",
    "executor_singleton",
    "map_documents",
    "preload",
    "repartition_for_python",
    "reset_singletons",
]
