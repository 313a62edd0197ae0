"""Round-7 operator edge cases: the transitions skew auto-gate and the
fused hot-key probe."""
from __future__ import annotations

import datetime

import sciencebeam_parser_spark.queries.events_ops as eo


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )


def _fixture(spark):
    base = datetime.datetime(2025, 1, 1)
    rows = []
    eid = 0
    # hot user 0: 6 events spanning 3 hours (2 per hour)
    for h in range(3):
        for k in range(2):
            rows.append(
                (
                    0,
                    ["view", "click", "cart"][eid % 3],
                    base + datetime.timedelta(hours=h, minutes=10 * k),
                    eid,
                )
            )
            eid += 1
    # two cold users, 2 events each
    for u in (1, 2):
        for k in range(2):
            rows.append(
                (
                    u,
                    ["view", "purchase"][k],
                    base + datetime.timedelta(minutes=k),
                    eid,
                )
            )
            eid += 1
    return _events(spark, rows)


class TestTransitionsAutoGate:
    def test_probe_is_one_fused_job(self, spark):
        ev = _fixture(spark)
        hot, total = eo.probe_hot_key(ev)
        assert (hot, total) == (6, 10)

    def test_gate_picks_form_by_threshold(self, spark, monkeypatch):
        picked = []
        real_w = eo.transitions_via_window
        real_s = eo.transitions_via_salted_windows
        monkeypatch.setattr(
            eo,
            "transitions_via_window",
            lambda ev: (picked.append("window"), real_w(ev))[1],
        )
        monkeypatch.setattr(
            eo,
            "transitions_via_salted_windows",
            lambda ev: (picked.append("salted"), real_s(ev))[1],
        )
        ev = _fixture(spark)
        # hot key (6 rows) >= threshold 5 -> salted escape hatch
        eo.transitions_auto(ev, min_hot_rows=5)
        # hot key below threshold -> plain window
        eo.transitions_auto(ev, min_hot_rows=100)
        assert picked == ["salted", "window"]

    def test_default_threshold_keeps_window_at_test_scale(
        self, spark, monkeypatch
    ):
        picked = []
        real_w = eo.transitions_via_window
        monkeypatch.setattr(
            eo,
            "transitions_via_window",
            lambda ev: (picked.append("window"), real_w(ev))[1],
        )
        eo.transitions_auto(_fixture(spark))
        assert picked == ["window"]

    def test_forms_row_exact_on_boundary_heavy_fixture(self, spark):
        # 2-per-hour events make HALF the transitions bucket-boundary
        # crossings — the stitch path carries real weight here
        ev = _fixture(spark)
        w = eo.transitions_via_window(ev).collect()
        s = eo.transitions_via_salted_windows(ev).collect()
        key = lambda r: (r["prev_type"], r["next_type"])  # noqa: E731
        assert sorted(
            (key(r), r["n"], r["p"]) for r in w
        ) == sorted((key(r), r["n"], r["p"]) for r in s)


class TestQ299DeleteTimeTravel:
    def test_versions_and_structural_sharing(self, spark):
        import json
        import os

        from sciencebeam_parser_spark.queries.registry import REGISTRY, table
        from sciencebeam_parser_spark.session import scratch_dir

        sf = "/root/testdata/sf0.001"
        rows = REGISTRY["q299_manifest_delete_time_travel"].build(spark, sf).collect()
        n_docs = table(spark, sf, "documents").count()
        v0 = [r for r in rows if r["version"] == 0]
        v1 = [r for r in rows if r["version"] == 1]
        assert sum(r["n_docs"] for r in v0) == n_docs  # v0 = pre-delete
        deleted = n_docs - sum(r["n_docs"] for r in v1)
        assert 0 < deleted < n_docs  # the range genuinely deleted rows

        store = scratch_dir(spark, "q299_store", sf)
        man0 = json.load(
            open(os.path.join(store, "_MANIFEST-v0.json"))
        )["shards"]
        man1 = json.load(
            open(os.path.join(store, "_MANIFEST-v1.json"))
        )["shards"]
        shared = {e["path"] for e in man0} & {e["path"] for e in man1}
        rewritten = {e["path"] for e in man1} - {e["path"] for e in man0}
        # structural sharing: untouched shards are the SAME files in both
        # versions; only stats-overlapping shards were rewritten
        assert shared and rewritten
        assert all(p.startswith("gen0/") for p in shared)
        assert all(p.startswith("gen1/") for p in rewritten)
        assert len(shared) + len(rewritten) == len(man1)
        # HEAD points at v1
        assert open(os.path.join(store, "_HEAD")).read() == "1"


class TestQ300MergeUpsert:
    def test_merge_classes_and_sharing(self, spark):
        import json
        import os

        from sciencebeam_parser_spark.queries.registry import REGISTRY, table
        from sciencebeam_parser_spark.session import scratch_dir

        sf = "/root/testdata/sf0.001"
        rows = REGISTRY["q300_manifest_merge_upsert"].build(spark, sf).collect()
        docs = table(spark, sf, "documents")
        n_docs = docs.count()
        n_inserts = docs.filter("doc_id % 11 = 0").count()
        v0 = [r for r in rows if r["version"] == 0]
        v1 = [r for r in rows if r["version"] == 1]
        assert sum(r["n_docs"] for r in v0) == n_docs
        # MERGE inserted exactly the shifted copies; updates changed
        # values, not counts
        assert sum(r["n_docs"] for r in v1) == n_docs + n_inserts
        assert sum(r["total_chars"] for r in v1) > sum(
            r["total_chars"] for r in v0
        )

        store = scratch_dir(spark, "q300_store", sf)
        man1 = json.load(
            open(os.path.join(store, "_MANIFEST-v1.json"))
        )["shards"]
        gens = {p["path"].split("/")[0] for p in man1}
        # v1 mixes all three entry classes: untouched-by-reference,
        # stats-pruned update rewrites, and appended insert shards
        assert gens == {"gen0", "gen1-upd", "gen1-ins"}


class TestQ301Vacuum:
    def test_vacuum_drops_history_keeps_live(self, spark):
        import glob
        import json
        import os

        from sciencebeam_parser_spark.queries.registry import REGISTRY, table
        from sciencebeam_parser_spark.session import scratch_dir

        sf = "/root/testdata/sf0.001"
        rows = REGISTRY["q301_manifest_vacuum"].build(spark, sf).collect()
        n_docs = table(spark, sf, "documents").count()
        live = sum(r["n_docs"] for r in rows)
        assert 0 < live < n_docs  # post-delete HEAD, not the full corpus

        store = scratch_dir(spark, "q301_store", sf)
        # expired history physically gone
        assert not os.path.exists(os.path.join(store, "_MANIFEST-v0.json"))
        # every on-disk shard is referenced by the retained manifest —
        # vacuum left no orphans behind
        man1 = json.load(
            open(os.path.join(store, "_MANIFEST-v1.json"))
        )["shards"]
        on_disk = {
            os.path.relpath(d, store)
            for d in glob.glob(os.path.join(store, "gen*", "shard=*"))
        }
        assert on_disk == {e["path"] for e in man1}


class TestQ302VersionedIngest:
    def test_versions_cumulative_and_monotonic(self, spark):
        from sciencebeam_parser_spark.queries.registry import REGISTRY, table

        rows = sorted(
            REGISTRY["q302_streaming_versioned_ingest"]
            .build(spark, "/root/testdata/sf0.001")
            .collect(),
            key=lambda r: r["version"],
        )
        n_docs = table(spark, "/root/testdata/sf0.001", "documents").count()
        assert [r["version"] for r in rows] == list(range(len(rows)))
        assert len(rows) >= 2  # genuinely multiple committed versions
        # strictly growing history, final version = the whole corpus
        for prev, cur in zip(rows, rows[1:]):
            assert cur["n_docs"] > prev["n_docs"]
            assert cur["total_chars"] > prev["total_chars"]
        assert rows[-1]["n_docs"] == n_docs
