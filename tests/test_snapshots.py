"""Snapshot lifecycle of the table layer (sources/iceberg.py): append
chains and time travel, incremental changes-reads, keyed splices
(merge-on-read upsert/delete), commit atomicity (uncommitted files
stay invisible), per-snapshot schemas, optimistic-concurrency guards,
compaction and expiry."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from mergeaddressesandbuildings_spark.sources import iceberg as ice


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def _kv(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _files(tdir, sid=None):
    """(data file paths, delete tasks) of snapshot ``sid`` (current
    when None), planned from metadata."""
    meta = ice.load_metadata(tdir)
    data, deletes = ice.plan_scan(meta, ice.select_snapshot(meta, sid))
    return {t.path for t in data}, deletes


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def test_append_chain_and_time_travel(spark, tdir):
    s1 = ice.write_iceberg(_kv(spark, [(1, "a"), (2, "b")]), tdir)
    s2 = ice.append_iceberg(_kv(spark, [(3, "c")]), tdir)
    assert (s1, s2) == (1, 2)
    snaps = ice.load_metadata(tdir)["snapshots"]
    assert "parent-snapshot-id" not in snaps[0]
    assert snaps[1]["parent-snapshot-id"] == s1
    assert rows_of(ice.read_iceberg(spark, tdir)) == \
        [(1, "a"), (2, "b"), (3, "c")]
    assert rows_of(ice.read_iceberg(spark, tdir, snapshot_id=s1)) == \
        [(1, "a"), (2, "b")]


def test_overwrite_keeps_history(spark, tdir):
    s1 = ice.write_iceberg(_ids(spark, [1]), tdir)
    # replace the whole table: delete every current key, insert anew
    ice.splice(spark, tdir, ice.read_iceberg(spark, tdir), ["id"],
               inserts=_ids(spark, [9]))
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(9,)]
    assert rows_of(ice.read_iceberg(spark, tdir, snapshot_id=s1)) == [(1,)]
    log = ice.metadata_table(spark, tdir, "snapshots") \
        .orderBy("snapshot_id").collect()
    assert [r["operation"] for r in log] == ["append", "overwrite"]


def test_read_changes_incremental(spark, tdir):
    ice.write_iceberg(_ids(spark, [0, 1]), tdir)
    for i in (1, 2):
        ice.append_iceberg(_ids(spark, [i * 10, i * 10 + 1]), tdir)
    assert rows_of(ice.read_changes(spark, tdir, 1, 3)) == \
        [(10,), (11,), (20,), (21,)]
    assert ice.read_changes(spark, tdir, 2, 2).count() == 0
    s4 = ice.splice(spark, tdir, ice.read_iceberg(spark, tdir), ["id"],
                    inserts=_ids(spark, [99]))
    with pytest.raises(ice.IcebergError, match="overwrite"):
        ice.read_changes(spark, tdir, 1, s4)


def test_orphan_files_invisible_and_retry_clean(spark, tdir):
    ice.write_iceberg(_ids(spark, [1]), tdir)
    # simulate a crashed half-commit: data written, no metadata swap
    crash_dir = os.path.join(tdir, "data", "data-2-deadbeef")
    _ids(spark, [666]).write.parquet(crash_dir)
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(1,)]
    # the retry commits cleanly into its own attempt dir and the
    # orphan rows stay invisible forever
    ice.append_iceberg(_ids(spark, [2]), tdir)
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(1,), (2,)]
    assert not any(p.startswith(crash_dir) for p in _files(tdir)[0])


def test_concurrent_writer_guard(spark, tdir, monkeypatch):
    """Two splices planned from the same parent: the second to reach
    the metadata swap conflicts and publishes nothing."""
    ice.write_iceberg(_kv(spark, [(1, "a"), (2, "b")]), tdir)
    parent = ice.load_metadata(tdir)
    ice.splice(spark, tdir, _ids(spark, [1]),
               ["id"], inserts=_kv(spark, [(1, "A")]))
    md = os.path.join(tdir, "metadata")
    before = sorted(os.listdir(md))
    # the racing writer read its metadata before the winner committed
    monkeypatch.setattr(ice, "load_metadata", lambda _d: dict(parent))
    with pytest.raises(ice.IcebergError, match="concurrent"):
        ice.splice(spark, tdir, _ids(spark, [2]),
                   ["id"], inserts=_kv(spark, [(2, "B")]))
    monkeypatch.undo()
    # no new or partial metadata version, hint unchanged
    assert not any(n.endswith(".tmp") for n in os.listdir(md))
    assert sorted(n for n in os.listdir(md)
                  if n.endswith(".metadata.json")) == \
        sorted(n for n in before if n.endswith(".metadata.json"))
    with open(os.path.join(md, "version-hint.text")) as fh:
        assert fh.read().strip() == "2"
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(1, "A"), (2, "b")]


def test_missing_snapshot_errors(spark, tdir):
    with pytest.raises(ice.IcebergError, match="no iceberg table"):
        ice.read_iceberg(spark, tdir)
    ice.write_iceberg(_ids(spark, [1]), tdir)
    with pytest.raises(ice.IcebergError, match="snapshot 7"):
        ice.read_iceberg(spark, tdir, snapshot_id=7)


def test_schema_frozen_per_snapshot(spark, tdir):
    s1 = ice.write_iceberg(_kv(spark, [(1, "x")]), tdir)
    ice.evolve_schema(tdir, add=[("w", "long")], rename={"v": "val"})
    s2 = ice.append_iceberg(
        spark.createDataFrame([(2, "y", 7)], "id long, val string, w long"),
        tdir)
    meta = ice.load_metadata(tdir)
    names = {sid: [f["name"] for f in ice._schema_for_id(meta, sch)
                   ["fields"]]
             for sid, sch in ice._snapshot_schema_ids(meta).items()}
    assert names == {s1: ["id", "v"], s2: ["id", "val", "w"]}
    # time travel projects the snapshot's own schema
    old = ice.read_iceberg(spark, tdir, snapshot_id=s1)
    assert old.columns == ["id", "v"]
    assert rows_of(old) == [(1, "x")]
    assert rows_of(ice.read_iceberg(spark, tdir)) == \
        [(1, "x", None), (2, "y", 7)]


# -------------------------------------------------------- keyed splice


def _seed(spark, tdir):
    """Two appends with disjoint key ranges -> two file groups."""
    ice.write_iceberg(_kv(spark, [(1, "a"), (2, "b")]), tdir)
    ice.append_iceberg(_kv(spark, [(10, "x"), (11, "y")]), tdir)


def test_merge_upsert_semantics(spark, tdir):
    _seed(spark, tdir)
    ch = spark.createDataFrame(
        [(2, "B!", False),    # update
         (99, "new", False),  # insert
         (10, None, True),    # delete
         (555, None, True)],  # delete of absent key: no-op
        "id bigint, v string, is_del boolean")
    sid = ice.splice(spark, tdir, ch, ["id"],
                     inserts=ch.filter("not is_del").drop("is_del"))
    meta = ice.load_metadata(tdir)
    assert ice.select_snapshot(meta, sid)["summary"]["operation"] == \
        "overwrite"
    assert rows_of(ice.read_iceberg(spark, tdir)) == \
        [(1, "a"), (2, "B!"), (11, "y"), (99, "new")]
    # time travel across the splice still sees the old state
    assert rows_of(ice.read_iceberg(spark, tdir, snapshot_id=2)) == \
        [(1, "a"), (2, "b"), (10, "x"), (11, "y")]


def test_merge_upsert_rewrites_only_affected_files(spark, tdir):
    _seed(spark, tdir)
    before, _ = _files(tdir)
    # touch only id 10 (snapshot 2's rows)
    ch = _kv(spark, [(10, "X")])
    sid = ice.splice(spark, tdir, ch, ["id"], inserts=ch)
    after, deletes = _files(tdir)
    # merge-on-read: every earlier data file is kept by reference and
    # none is rewritten; the only new data is the insert itself
    assert before <= after
    assert rows_of(spark.read.parquet(*(after - before))) == [(10, "X")]
    # the delete side names just the spliced key, at the new sequence
    assert {d.kind for d in deletes} == {"eq"}
    assert rows_of(spark.read.parquet(*{d.path for d in deletes})) == \
        [(10,)]
    seq = ice.select_snapshot(ice.load_metadata(tdir), sid)[
        "sequence-number"]
    assert {d.seq for d in deletes} == {seq}
    assert rows_of(ice.read_iceberg(spark, tdir).filter("id = 10")) == \
        [(10, "X")]
    assert rows_of(ice.read_iceberg(spark, tdir)) == \
        [(1, "a"), (2, "b"), (10, "X"), (11, "y")]


def test_merge_upsert_insert_only_touches_nothing(spark, tdir):
    _seed(spark, tdir)
    before, _ = _files(tdir)
    ch = _kv(spark, [(50, "q")])
    ice.splice(spark, tdir, ch, ["id"], inserts=ch)
    after, _ = _files(tdir)
    assert before <= after and len(after - before) >= 1
    assert ice.read_iceberg(spark, tdir).count() == 5


def test_merge_upsert_guards(spark, tdir):
    _seed(spark, tdir)
    n_snaps = len(ice.snapshot_ids(tdir))
    with pytest.raises(ice.IcebergError, match="not in schema"):
        ice.splice(spark, tdir, _ids(spark, [1]), ["nope"],
                   inserts=_kv(spark, [(1, "p")]))
    # inserts lacking a table column fail before anything is committed
    with pytest.raises(AnalysisException):
        ice.splice(spark, tdir, _ids(spark, [1]), ["id"],
                   inserts=_ids(spark, [1]))
    with pytest.raises(ice.IcebergError, match="no iceberg table"):
        ice.splice(spark, str(tdir) + "_absent", _ids(spark, [1]), ["id"],
                   inserts=_kv(spark, [(1, "a")]))
    assert len(ice.snapshot_ids(tdir)) == n_snaps
    assert rows_of(ice.read_iceberg(spark, tdir)) == \
        [(1, "a"), (2, "b"), (10, "x"), (11, "y")]


def test_read_changes_rejects_merge(spark, tdir):
    _seed(spark, tdir)
    ch = _kv(spark, [(1, "z")])
    s3 = ice.splice(spark, tdir, ch, ["id"], inserts=ch)
    with pytest.raises(ice.IcebergError, match="append-only"):
        ice.read_changes(spark, tdir, 1, s3)


# ------------------------------------------- compaction + expiry


def test_compact_preserves_rows_and_prunes_files(spark, tdir):
    ice.write_iceberg(_kv(spark, [(j, f"v0{j}") for j in range(3)]), tdir)
    for i in range(1, 4):  # 4 tiny appends -> many small files
        ice.append_iceberg(
            _kv(spark, [(i * 10 + j, f"v{i}{j}") for j in range(3)]), tdir)
    before = rows_of(ice.read_iceberg(spark, tdir))
    files_before, _ = _files(tdir)
    sid = ice.compact_table(spark, tdir)
    meta = ice.load_metadata(tdir)
    assert ice.select_snapshot(meta, sid)["summary"]["operation"] == \
        "replace"
    files_after, _ = _files(tdir)
    assert not files_before & files_after
    assert len(files_after) < len(files_before)
    assert rows_of(ice.read_iceberg(spark, tdir)) == before
    # history before the compaction still readable
    assert len(rows_of(ice.read_iceberg(spark, tdir, snapshot_id=2))) == 6


def test_expire_snapshots_reclaims_unreferenced_files(spark, tdir):
    ice.write_iceberg(_kv(spark, [(1, "a")]), tdir)
    ch = _kv(spark, [(1, "A2")])
    ice.splice(spark, tdir, ch, ["id"], inserts=ch)
    s3 = ice.compact_table(spark, tdir)   # rewrites: old files unreferenced
    ice.append_iceberg(_kv(spark, [(2, "b")]), tdir)
    s1_files, _ = _files(tdir, 1)
    s2_files, s2_dels = _files(tdir, 2)
    r = ice.expire_snapshots(tdir, keep_last=2)
    assert r["expired_snapshots"] == 2
    # snapshots 1/2's data and delete files are unreferenced by 3/4
    gone = s1_files | s2_files | {d.path for d in s2_dels}
    assert r["deleted_files"] >= len(gone)
    assert not any(os.path.exists(f) for f in gone)
    # retained chain intact, current readable, expired id errors cleanly
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(1, "A2"), (2, "b")]
    assert rows_of(ice.read_iceberg(spark, tdir, snapshot_id=s3)) == \
        [(1, "A2")]
    with pytest.raises(ice.IcebergError, match="not found"):
        ice.read_iceberg(spark, tdir, snapshot_id=1)
    assert ice.snapshot_ids(tdir) == [3, 4]


def test_expire_keeps_files_still_referenced(spark, tdir):
    # append chain: snapshot 3 references snapshots 1-3's data files
    # and manifests, so expiring 1 and 2 deletes only their manifest
    # lists
    ice.write_iceberg(_kv(spark, [(0, "x")]), tdir)
    for i in (1, 2):
        ice.append_iceberg(_kv(spark, [(i, "x")]), tdir)
    live, _ = _files(tdir)
    r = ice.expire_snapshots(tdir, keep_last=1)
    assert r == {"expired_snapshots": 2, "deleted_files": 2}
    assert all(os.path.exists(f) for f in live)
    assert rows_of(ice.read_iceberg(spark, tdir)) == \
        [(0, "x"), (1, "x"), (2, "x")]


def test_expire_guard(spark, tdir):
    ice.write_iceberg(_kv(spark, [(1, "a")]), tdir)
    with pytest.raises(ice.IcebergError, match=">= 1"):
        ice.expire_snapshots(tdir, keep_last=0)
    with pytest.raises(ice.IcebergError, match="exactly one"):
        ice.expire_snapshots(tdir, keep_last=1, older_than_ms=0)
    assert ice.snapshot_ids(tdir) == [1]


# ---------------------------------------------- optimistic concurrency


def test_racing_commits_conflict_not_lost_update(spark, tdir):
    """Two writers that both planned from the same parent must NOT
    both commit — the loser raises CommitConflict at the exclusive
    metadata-version create, the winner's rows are intact, and the
    pointer never regresses."""
    ice.write_iceberg(_kv(spark, [(1, "a")]), tdir)
    stale = ice.load_metadata(tdir)       # writer B plans from v1
    sa = ice.append_iceberg(_kv(spark, [(2, "A")]), tdir)  # A lands
    with pytest.raises(ice.IcebergError, match="concurrent"):
        ice._append(_kv(spark, [(3, "B")]), tdir, partition_by=None,
                    parent=stale)
    # lost-update impossibility: A's commit is the live state, B's
    # rows are invisible orphans
    assert ice.load_metadata(tdir)["current-snapshot-id"] == sa
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(1, "a"), (2, "A")]


def test_stale_writer_cannot_regress_pointer(spark, tdir):
    """A writer holding metadata from before an expiry must not
    publish over it: that would resurrect the expired snapshots,
    whose manifest lists are already deleted."""
    ice.write_iceberg(_ids(spark, [0]), tdir)
    for i in (1, 2):
        ice.append_iceberg(_ids(spark, [i]), tdir)
    stale = ice.load_metadata(tdir)
    ice.expire_snapshots(tdir, keep_last=1)   # publishes a new version
    with pytest.raises(ice.IcebergError, match="CommitConflict"):
        ice._append(_ids(spark, [9]), tdir, partition_by=None,
                    parent=stale)
    meta = ice.load_metadata(tdir)
    assert meta["current-snapshot-id"] == 3
    assert ice.snapshot_ids(tdir) == [3]
    assert meta["_loaded-version"] == stale["_loaded-version"] + 1
    assert rows_of(ice.read_iceberg(spark, tdir)) == [(0,), (1,), (2,)]
