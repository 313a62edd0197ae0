"""Round-8 manifest-store verbs: schema evolution (q303), change data
feed (q304), shallow clone (q305), Z-order clustering (q306) — the
store-level invariants the oracles can't see (metadata-only commits,
file-reference sharing, feed durability, pruning counts)."""
from __future__ import annotations

import json
import os

from sciencebeam_parser_spark.session import scratch_dir

SF = "/root/testdata/sf0.001"


def _manifest(store, v):
    with open(os.path.join(store, f"_MANIFEST-v{v}.json")) as fh:
        return json.load(fh)["shards"]


class TestQ303SchemaEvolution:
    def test_add_column_is_metadata_only(self, spark):
        from sciencebeam_parser_spark.queries.registry import REGISTRY, table

        rows = (
            REGISTRY["q303_manifest_schema_evolution"]
            .build(spark, SF)
            .collect()
        )
        n_docs = table(spark, SF, "documents").count()
        assert sum(r["n_docs"] for r in rows) == n_docs
        with_q = sum(r["n_with_quality"] for r in rows)
        # the evolved half carries the column, the old half backfills NULL
        assert 0 < with_q < n_docs

        store = scratch_dir(spark, "q303_store", SF)
        v0 = _manifest(store, 0)
        v1 = _manifest(store, 1)
        # v1 carries EVERY v0 entry by reference (same path, same schema
        # tag) — ADD COLUMN rewrote nothing
        assert [e for e in v1 if e["schema"] == "s1"] == v0
        assert all(e["schema"] in ("s1", "s2") for e in v1)
        assert any(e["schema"] == "s2" for e in v1)
        for e in v0:
            assert os.path.exists(os.path.join(store, e["path"]))


class TestQ304ChangeDataFeed:
    def test_feed_classes_and_durability(self, spark):
        from sciencebeam_parser_spark.queries.registry import REGISTRY, table

        rows = (
            REGISTRY["q304_manifest_change_data_feed"]
            .build(spark, SF)
            .collect()
        )
        docs = table(spark, SF, "documents")
        span = docs.selectExpr(
            "min(doc_id) mn", "max(doc_id) mx"
        ).first()
        a = span["mn"] + (span["mx"] - span["mn"]) // 4
        z = span["mn"] + (span["mx"] - span["mn"]) // 2
        n_upd = docs.filter(f"doc_id BETWEEN {a} AND {z}").count()
        n_ins = docs.filter("doc_id % 7 = 0").count()
        by_type = {}
        for r in rows:
            by_type.setdefault(r["change_type"], []).append(r)
        assert len(by_type["update_preimage"]) == n_upd
        assert len(by_type["update_postimage"]) == n_upd
        assert len(by_type["insert"]) == n_ins
        # postimage = preimage + 1000, row-aligned by doc_id
        pre = {r["doc_id"]: r["n_chars"] for r in by_type["update_preimage"]}
        for r in by_type["update_postimage"]:
            assert r["n_chars"] == pre[r["doc_id"]] + 1000

        store = scratch_dir(spark, "q304_store", SF)
        v1 = _manifest(store, 1)
        cdf = [e for e in v1 if e.get("change_data")]
        data = [e for e in v1 if not e.get("change_data")]
        # the feed is COMMITTED beside the version that produced it,
        # one cell per change class, physically present
        assert len(cdf) == 3
        for e in cdf:
            assert e["path"].startswith("_change_data/v1/")
            assert os.path.isdir(os.path.join(store, e["path"]))
        # and the data entries mix all three merge classes (q300 shape)
        gens = {e["path"].split("/")[0] for e in data}
        assert gens == {"gen0", "gen1-upd", "gen1-ins"}


class TestQ305ShallowClone:
    def test_zero_copy_references_and_isolation(self, spark):
        from sciencebeam_parser_spark.queries.registry import REGISTRY, table

        rows = (
            REGISTRY["q305_manifest_shallow_clone"]
            .build(spark, SF)
            .collect()
        )
        n_docs = table(spark, SF, "documents").count()
        src = [r for r in rows if r["tbl"] == "source"]
        clone = [r for r in rows if r["tbl"] == "clone"]
        assert sum(r["n_docs"] for r in src) == n_docs
        assert 0 < sum(r["n_docs"] for r in clone) < n_docs

        base = scratch_dir(spark, "q305", SF)
        src_store = os.path.join(base, "source")
        clone_store = os.path.join(base, "clone")
        # the source never advanced past its original commit
        assert open(os.path.join(src_store, "_HEAD")).read() == "0"
        assert not os.path.exists(
            os.path.join(src_store, "_MANIFEST-v1.json")
        )
        clone_v1 = _manifest(clone_store, 1)
        refs = [e for e in clone_v1 if os.path.isabs(e["path"])]
        local = [e for e in clone_v1 if not os.path.isabs(e["path"])]
        # untouched entries are ABSOLUTE references into the source's
        # directory (zero bytes copied); only the delete-overlapping
        # shards were rewritten locally
        assert refs and local
        assert all(e["path"].startswith(src_store) for e in refs)
        assert all(e["path"].startswith("gen1/") for e in local)
        # every source file survives, byte-for-byte still there
        for e in _manifest(src_store, 0):
            assert os.path.isdir(os.path.join(src_store, e["path"]))


class TestQ306ZOrder:
    def test_zlayout_out_prunes_linear(self, spark):
        from sciencebeam_parser_spark.queries.registry import REGISTRY, table

        rows = (
            REGISTRY["q306_zorder_clustering"].build(spark, SF).collect()
        )
        docs = table(spark, SF, "documents")
        span = docs.selectExpr(
            "min(doc_id) mn",
            "max(doc_id) mx",
            "min(n_chars) cmn",
            "max(n_chars) cmx",
        ).first()
        a = span["mn"] + (span["mx"] - span["mn"]) // 4
        z = span["mn"] + (span["mx"] - span["mn"]) // 2
        ca = span["cmn"] + (span["cmx"] - span["cmn"]) // 4
        cz = span["cmn"] + (span["cmx"] - span["cmn"]) // 2
        # the z-pruned read-back equals the direct box aggregate
        expect = docs.filter(
            f"doc_id BETWEEN {a} AND {z} AND n_chars BETWEEN {ca} AND {cz}"
        ).count()
        assert sum(r["n_docs"] for r in rows) == expect

        store = scratch_dir(spark, "q306_store", SF)

        def kept(entries):
            return [
                e
                for e in entries
                if not (
                    e["max_doc_id"] < a
                    or e["min_doc_id"] > z
                    or e["max_n_chars"] < ca
                    or e["min_n_chars"] > cz
                )
            ]

        l_kept = kept(_manifest(store, 0))
        z_kept = kept(_manifest(store, 1))
        # identical stats rule: the z-curve layout keeps strictly fewer
        # files for the 2-D box than the single-dimension layout
        assert len(z_kept) < len(l_kept)
        # and the z-files that survive really are tight on both dims:
        # each overlaps the box in doc_id AND n_chars
        for e in z_kept:
            assert e["min_doc_id"] <= z and e["max_doc_id"] >= a
            assert e["min_n_chars"] <= cz and e["max_n_chars"] >= ca
