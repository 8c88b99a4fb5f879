"""Partition-scoped ParquetQuadStore commits.

A mutation must rewrite only the (graph, salt) partitions it touches: the
new snapshot HARD-LINKS every other partition's files from the parent —
byte-identical by inode, no rewrite, no storage growth. This is the
snapshot-protocol analogue of Iceberg's MERGE granularity (the production
backend this store stands in for)."""

from __future__ import annotations

import json
import os

import pytest

from ontograph_spark.ontology.resources import new_triple
from ontograph_spark.store import ParquetQuadStore
from ontograph_spark.terms import mk_resource

URI = "urn:scoped"


def _t(i: int, uri: str = URI):
    return new_triple(
        mk_resource(f"{uri}#s{i}"),
        mk_resource(f"{uri}#p"),
        mk_resource(f"{uri}#o{i}"),
    )


def _files_by_partition(root: str, snapshot: str) -> dict[str, dict[str, int]]:
    """partition dir (relative) → {filename: inode}."""
    base = os.path.join(root, "snapshots", snapshot)
    out: dict[str, dict[str, int]] = {}
    for gdir in os.listdir(base):
        if not gdir.startswith("graph="):
            continue
        for sdir in os.listdir(os.path.join(base, gdir)):
            if not sdir.startswith("salt="):
                continue
            p = os.path.join(base, gdir, sdir)
            out[f"{gdir}/{sdir}"] = {
                f: os.stat(os.path.join(p, f)).st_ino for f in os.listdir(p)
            }
    return out


@pytest.fixture()
def store(spark, tmp_path):
    s = ParquetQuadStore(
        spark, URI, str(tmp_path / "quads"), write_partitions=2
    )
    s.add_triples([_t(i) for i in range(40)])
    return s


def test_single_add_links_untouched_partitions(store):
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)
    assert len(before) > 1  # several salt buckets populated

    store.add_triple(_t(99))
    v2 = store.current_snapshot()
    assert v2 != v1
    after = _files_by_partition(store.root, v2)

    changed = [p for p in after if after[p] != before.get(p)]
    unchanged = [p for p in after if after[p] == before.get(p)]
    # exactly one salt bucket rewritten; every other partition's files are
    # the SAME inodes (hard links), not copies
    assert len(changed) == 1
    assert unchanged and all(
        after[p] == before[p] for p in unchanged
    )
    assert store.size() == 41
    # the manifest records the scoped partition set
    manifest = store.history()[-1]
    assert manifest["op"] == "add"
    assert manifest["scoped_partitions"] is not None
    assert len(manifest["scoped_partitions"]) == 1


def test_single_delete_is_scoped(store):
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)
    store.delete_triple(_t(7))
    after = _files_by_partition(store.root, store.current_snapshot())
    changed = [p for p in after if after[p] != before.get(p)]
    assert len(changed) <= 1
    assert store.size() == 39
    assert store.get_all_matches(f"<{URI}#s7>") == []


def test_noop_delete_links_everything(store):
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)
    store.delete_all_matches(f"<{URI}#nope>")
    after = _files_by_partition(store.root, store.current_snapshot())
    assert after == before  # same inodes everywhere
    assert store.size() == 40


def test_drop_graph_links_other_graphs(spark, store):
    other = ParquetQuadStore(
        spark, "urn:other", store.root, write_partitions=2
    )
    other.add_triples([_t(i, "urn:other") for i in range(10)])
    before = _files_by_partition(store.root, other.current_snapshot())
    mine_before = {p: v for p, v in before.items() if "scoped" in p}
    other.drop()
    after = _files_by_partition(store.root, store.current_snapshot())
    # the dropped graph's partitions are gone; mine are linked unchanged
    assert not any("urn%3Aother" in p for p in after)
    for p, v in mine_before.items():
        assert after[p] == v
    assert store.size() == 40


def test_expire_is_link_safe(store):
    store.add_triple(_t(99))
    store.add_triple(_t(100))
    expired = store.expire_snapshots(keep=1)
    assert expired
    # the live snapshot still reads fully although parents are deleted
    assert store.size() == 42


def test_merge_df_wide_batch_full_rewrite(spark, store):
    """A batch touching more partitions than scope_limit falls back to a
    full rewrite (and stays correct)."""
    store.scope_limit = 2
    quads = spark.createDataFrame(
        [(f"<{URI}#m{i}>", f"<{URI}#p>", f"<{URI}#o{i}>", URI) for i in range(30)],
        "subj string, pred string, obj string, graph string",
    )
    store.merge_df(quads)
    assert store.size() == 70
    manifest = store.history()[-1]
    assert manifest["scoped_partitions"] is None


def test_graph_scan_prunes_partitions(spark, store):
    """graph is a partition column: a graph-scoped scan reads only that
    graph's directories (partition pruning in the plan)."""
    plan = store.df()._jdf.queryExecution().executedPlan().toString()
    assert "graph" in plan  # partition filter present
    rows = store.df().count()
    assert rows == 40


def test_time_travel_and_diff(spark, tmp_path):
    """df_at reads a retained snapshot as-of commit time; diff yields
    the row-level change set (the CDC pattern); expiry invalidates
    time travel but keeps history manifests."""
    from ontograph_spark.ontology.resources import new_triple
    from ontograph_spark.store import ParquetQuadStore
    from ontograph_spark.terms import mk_literal, mk_resource

    g = "https://g.example/tt"
    s = ParquetQuadStore(spark, g, str(tmp_path / "q"), write_partitions=2)

    def t(n):
        return new_triple(
            mk_resource(f"{g}#e{n}"), mk_resource(f"{g}#p"), mk_literal(str(n), "", "")
        )

    s.add_triples([t(1), t(2)])
    v1 = s.current_snapshot()
    s.add_triple(t(3))
    s.delete_triple(t(1))
    v3 = s.current_snapshot()
    assert v1 != v3 and v1 in s.snapshots()
    # as-of read sees the old state
    old_rows = {r.subj for r in s.df_at(v1).collect()}
    assert old_rows == {f"<{g}#e1>", f"<{g}#e2>"}
    live_rows = {r.subj for r in s.df().collect()}
    assert live_rows == {f"<{g}#e2>", f"<{g}#e3>"}
    # change set between v1 and live
    changes = {(r.subj, r.change) for r in s.diff(v1).collect()}
    assert changes == {
        (f"<{g}#e3>", "added"),
        (f"<{g}#e1>", "removed"),
    }
    # expiry: the old snapshot becomes unreadable (and its manifest is
    # garbage-collected with it); the live snapshot still reads
    s.expire_snapshots(keep=1)
    with pytest.raises(ValueError, match="expired"):
        s.df_at(v1)
    assert {r.subj for r in s.df().collect()} == live_rows


def test_concurrent_writers_serialize_per_root(spark, tmp_path):
    """Two threads commit through two store objects on one root (one
    spelled with a trailing '/.'): every add lands, and each manifest's
    parent is the snapshot before it — no lost update, no two commits
    racing for one snapshot name."""
    import threading

    root = str(tmp_path / "quads")
    a = ParquetQuadStore(spark, URI, root, write_partitions=2)
    a.add_triples([_t(i) for i in range(20)])
    b = ParquetQuadStore(spark, URI, os.path.join(root, "."), write_partitions=2)
    errors = []

    def writer(store, first):
        try:
            for i in range(first, first + 5):
                store.add_triple_unchecked(_t(i))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(a, 100)),
        threading.Thread(target=writer, args=(b, 200)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert a.size() == 30
    history = a.history()
    assert len(history) == 11
    assert [m["parent"] for m in history] == [None] + [
        m["snapshot"] for m in history[:-1]
    ]
