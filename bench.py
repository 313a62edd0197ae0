#!/usr/bin/env python
"""Benchmark harness: runs the registered headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall time over all queries (sec). Each query is executed to
completion via a count-ish action (``df.write.format("noop")`` equivalent:
we use ``_jdf`` free ``df.foreach`` alternative — a cheap ``count()`` after a
``cache``-free plan), so measured time includes the full plan execution.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sciencebeam_parser_spark.queries import REGISTRY  # noqa: E402
from sciencebeam_parser_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    spark = get_spark("bench")
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    REGISTRY["q01_pricing_summary"].build(spark, sf_dir).count()

    per_query: dict[str, float] = {}
    failed: list[str] = []
    total = 0.0
    # Streaming queries run LAST: a terminated streaming run leaves
    # state-store maintenance residue in the shared local JVM that
    # measurably slows later pandas-heavy queries (observed ~2x on the
    # XML pipelines). Batch queries are measured on a clean engine; the
    # streaming queries only ever contaminate each other.
    ordered = sorted(REGISTRY.items(), key=lambda kv: ("stream" in kv[0], kv[0]))
    for name, q in ordered:
        t0 = time.time()
        try:
            df = q.build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
        except Exception:
            # fall back to count() if noop sink unavailable for this plan
            try:
                t0 = time.time()
                q.build(spark, sf_dir).count()
                dt = time.time() - t0
            except Exception as e:  # pragma: no cover
                print(f"bench error in {name}: {e}", file=sys.stderr)
                failed.append(name)
                continue
        per_query[name] = round(dt, 3)
        total += dt
        # pipeline queries cache intermediates; drop them so later queries
        # aren't measured under another query's memory pressure
        spark.catalog.clearCache()
    # The driver keeps only the last ~2000 chars of stdout and parses JSON
    # from that buffer; a 263-query map overflows it (BENCH_r05 recorded
    # "parsed": null because the line's HEAD was truncated away). So the
    # full per-query map goes ONLY to bench_detail.json, and the FINAL
    # stdout line is a compact summary (total, n, sf, slowest 15) that is
    # guaranteed to fit the tail capture whole.
    detail = {
        "metric": "operator_suite_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "failed": failed,
        "sf": sf_val,
    }
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # a scaling run (different $SPARK_GRAFT_CPUS) must not clobber the
    # canonical 32-core detail: keep one full map per core count too
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with open(os.path.join(repo_dir, f"bench_detail_{cpus}c.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # slowest-N in the stdout line: sized so the whole JSON line still fits
    # the driver's ~2000-char stdout tail capture. 40 short-name entries is
    # ~600 bytes; the full payload stays under ~1300 bytes.
    slowest = dict(
        sorted(
            ((n.split("_", 1)[0], s) for n, s in per_query.items()),
            key=lambda kv: -kv[1],
        )[:40]
    )
    # additions-only digest: per-module wall-time subtotals, so a
    # round-over-round comparison sees every query family move even when
    # individual queries churn in and out of the slowest-N set
    families: dict[str, float] = {}
    for name, s in per_query.items():
        mod = REGISTRY[name].build.__module__.rsplit(".", 1)[-1]
        families[mod] = round(families.get(mod, 0.0) + s, 1)
    payload = {
        "metric": "operator_suite_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "n": len(per_query),
        "queries": slowest,
        "families": families,
        "sf": sf_val,
        # queries whose build and count() fallback both raised: they are
        # absent from n and the totals, so name them instead of hiding
        "failed": [n.split("_", 1)[0] for n in failed],
    }
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:  # never risk the tail capture truncating the line
        payload.pop("families")
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:  # still too long: fall back to the r8 top-15 shape
        payload["queries"] = dict(list(slowest.items())[:15])
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:  # a mass failure: bench_detail.json names them all
        payload["failed"] = payload["failed"][:50]
        line = json.dumps(payload, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
