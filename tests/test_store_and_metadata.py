"""MVCC store + metadata plane tests mirroring the reference's pqm_test,
qtree2 delete/changes tests, and mp_test (SURVEY.md §5)."""

from __future__ import annotations

import pytest

from btrdb_server_spark.api import BTrDB
from btrdb_server_spark.constants import (
    ERR_ANN_VERSION_MISMATCH,
    ERR_NO_SUCH_STREAM,
    ERR_STREAM_EXISTS,
)
from btrdb_server_spark.store import BTrDBError


@pytest.fixture()
def db(spark, tmp_path):
    return BTrDB(spark, str(tmp_path / "db"))


def test_insert_version_bumps(db):
    """pqm_test/main_test.go:53 TestInsertWithFlush: versions advance per
    committed write."""
    v1 = db.insert("s1", [(100, 100.0)])
    assert v1 == 1
    v2 = db.insert("s1", [(105, 105.0)])
    assert v2 == 2
    assert db.store.stream_version("s1") == 2
    rows = db.raw_values("s1", 0, 200).collect()
    assert [(r.time, r.value) for r in rows] == [(100, 100.0), (105, 105.0)]


def test_snapshot_isolation(db):
    v1 = db.insert("s1", [(100, 1.0)])
    db.insert("s1", [(200, 2.0)])
    old = db.raw_values("s1", 0, 1000, version=v1).collect()
    assert [r.time for r in old] == [100]
    new = db.raw_values("s1", 0, 1000).collect()
    assert [r.time for r in new] == [100, 200]


def test_delete_range_and_changes(db):
    """qtree2_test.go:282 TestQT2_DEL / :362 TestQT2_CRNG: delete an interval,
    verify readback and that Changes covers the deleted interval."""
    n = 100
    db.insert("s1", [(i * 10, float(i)) for i in range(n)])
    v1 = db.store.version
    db.delete("s1", 100, 900)  # deletes times 100..890 -> 80 points
    remaining = db.raw_values("s1", 0, 10_000).collect()
    assert len(remaining) == n - 80
    assert all(r.time < 100 or r.time >= 900 for r in remaining)
    # reinsert into the deleted range -> new points visible
    db.insert("s1", [(500, 42.0)])
    rows = db.raw_values("s1", 0, 10_000).collect()
    assert len(rows) == n - 80 + 1
    assert any(r.time == 500 and r.value == 42.0 for r in rows)
    # changes since v1 must cover the deleted interval and the new point
    ch = [(r.start, r.end) for r in db.changes("s1", v1, db.store.version, 4).collect()]
    assert len(ch) >= 1
    lo = min(s for s, _ in ch)
    hi = max(e for _, e in ch)
    assert lo <= 100 and hi >= 900  # completeness (over-approximation allowed)


def test_changes_insert_only(db):
    db.insert("s1", [(0, 1.0)])
    v1 = db.store.version
    db.insert("s1", [(1000, 2.0), (1010, 3.0)])
    ch = [(r.start, r.end) for r in db.changes("s1", v1, db.store.version, 4).collect()]
    # only the second insert's buckets appear
    assert all(s >= 992 for s, _ in ch)
    assert any(s <= 1000 < e for s, e in ch)


def test_old_version_ignores_delete(db):
    db.insert("s1", [(i, float(i)) for i in range(10)])
    v1 = db.store.version
    db.delete("s1", 0, 5)
    assert db.raw_values("s1", 0, 100, version=v1).count() == 10
    assert db.raw_values("s1", 0, 100).count() == 5


def test_obliterate_data_and_registry(db):
    db.create("u1", "a/b", {"name": "s1"})
    db.insert("u1", [(1, 1.0)])
    db.obliterate("u1")
    assert db.raw_values("u1", 0, 100).count() == 0
    with pytest.raises(BTrDBError) as ei:
        db.stream_info("u1")
    assert ei.value.code == ERR_NO_SUCH_STREAM
    # uuid never reusable (metaprovider.go:296-326)
    with pytest.raises(BTrDBError) as ei:
        db.create("u1", "a/c")
    assert ei.value.code == ERR_STREAM_EXISTS


def test_metadata_crud_and_lookup(db):
    """mp_test.go:71-938 condensed: CRUD + lookup + usage + pagination."""
    for i in range(10):
        db.create(f"u{i}", f"a/b/{i % 3}", {"name": f"s{i}", "unit": "volts" if i % 2 else "amps"},
                  {"note": f"n{i}"} if i % 2 else None)
    db.create("z1", "z/only", {"name": "zz"})

    # duplicate (collection, tags) rejected
    with pytest.raises(BTrDBError):
        db.create("u99", "a/b/0", {"name": "s0", "unit": "amps"})

    cols = [r.collection for r in db.list_collections(prefix="a/").collect()]
    assert cols == ["a/b/0", "a/b/1", "a/b/2"]
    # keyset pagination
    page = [r.collection for r in db.list_collections(prefix="a/", start_with="a/b/1", limit=2).collect()]
    assert page == ["a/b/1", "a/b/2"]

    # tag equality
    got = db.lookup_streams(collection="a/", tags={"unit": "volts"})
    assert got.count() == 5
    # presence-only (value=None)
    got = db.lookup_streams(annotations={"note": None})
    assert got.count() == 5
    # conjunction
    got = db.lookup_streams(collection="a/b/1", is_prefix=False, tags={"unit": "volts"})
    assert all(r.collection == "a/b/1" for r in got.collect())

    tag_usage, ann_usage = db.get_metadata_usage(prefix="a/")
    tu = {r.key: r.cnt for r in tag_usage.collect()}
    assert tu == {"name": 10, "unit": 10}
    au = {r.key: r.cnt for r in ann_usage.collect()}
    assert au == {"note": 5}


def test_registry_restart_roundtrip(spark, tmp_path):
    """Every mutation lands in the parquet snapshot: a fresh process on the
    same path sees creates, annotation CAS state, and permanent obliterate
    tombstones (metaprovider.go:296-326 — uuid never reusable)."""
    path = str(tmp_path / "db")
    db1 = BTrDB(spark, path)
    db1.create("u1", "a/b", {"name": "s1"}, {"note": "n"})
    db1.create("u2", "a/c", {"name": "s2"})
    db1.set_stream_annotations("u1", 1, {"note": "n2", "extra": "x"})
    db1.obliterate("u2")

    db2 = BTrDB(spark, path)  # simulated restart
    info = db2.stream_info("u1")
    assert info["annotations"] == {"note": "n2", "extra": "x"}
    assert info["annotation_version"] == 2
    with pytest.raises(BTrDBError) as ei:
        db2.stream_info("u2")
    assert ei.value.code == ERR_NO_SUCH_STREAM
    with pytest.raises(BTrDBError) as ei:
        db2.create("u2", "elsewhere")  # tombstone survives restart
    assert ei.value.code == ERR_STREAM_EXISTS
    # the freed identity (collection, tags) is reusable; the uuid is not
    db2.create("u3", "a/c", {"name": "s2"})
    # CAS version also restored, not reset
    assert db2.set_stream_annotations("u1", 2, {"k": "v"}) == 3


def test_registry_bulk_create_100k(spark, tmp_path):
    """mp_test.go:71-938 stress at 10× scale: bulk registration runs its
    uniqueness checks as DataFrame joins (no driver loop), and lookups stay
    DataFrame plans over the snapshot."""
    import pyspark.sql.functions as F

    db = BTrDB(spark, str(tmp_path / "db"))
    db.create("pre", "bulk/c1", {"name": "preexisting"})
    streams = spark.range(100_000).select(
        F.concat(F.lit("bulk-"), F.col("id")).alias("uuid"),
        F.concat(F.lit("bulk/c"), F.col("id") % 100).alias("collection"),
        F.create_map(
            F.lit("name"), F.concat(F.lit("s"), F.col("id")),
            F.lit("unit"), F.when(F.col("id") % 2 == 0, "amps").otherwise("volts"),
        ).alias("tags"),
    )
    assert db.registry.create_many(streams) == 100_000
    assert db.registry.live_df().count() == 100_001
    assert db.lookup_streams(collection="bulk/c7", is_prefix=False).count() == 1000
    assert db.list_collections(prefix="bulk/").count() == 100
    # identity collision with a pre-registered stream is caught by the join
    clash = spark.createDataFrame(
        [("x1", "bulk/c1", {"name": "preexisting"})], "uuid string, collection string, tags map<string,string>"
    )
    with pytest.raises(BTrDBError) as ei:
        db.registry.create_many(clash)
    assert ei.value.code == ERR_STREAM_EXISTS
    # uuid collision with the bulk batch too
    clash2 = spark.createDataFrame(
        [("bulk-5", "other/c", {"name": "zz"})], "uuid string, collection string, tags map<string,string>"
    )
    with pytest.raises(BTrDBError):
        db.registry.create_many(clash2)
    # single-stream path still works on top of bulk state
    with pytest.raises(BTrDBError):
        db.create("bulk-5", "any/c")


def test_annotation_cas(db):
    db.create("u1", "c", {"name": "x"})
    v = db.set_stream_annotations("u1", 1, {"k": "v1"})
    assert v == 2
    with pytest.raises(BTrDBError) as ei:
        db.set_stream_annotations("u1", 1, {"k": "v2"})
    assert ei.value.code == ERR_ANN_VERSION_MISMATCH
    v = db.set_stream_annotations("u1", 2, {"k": None, "j": "w"})
    assert v == 3
    assert db.stream_info("u1")["annotations"] == {"j": "w"}


def test_generate_csv_alignment(db):
    db.insert("s1", [(0, 1.0), (2, 1.2)])
    db.insert("s2", [(1, 2.0), (2, 2.2)])
    rows = db.generate_csv(["s1", "s2"], 0, 10).collect()
    assert len(rows) == 3  # times 0,1,2
    by_time = {r.time: r for r in rows}
    assert by_time[0].s1 == 1.0 and by_time[0].s2 is None
    assert by_time[1].s1 is None and by_time[1].s2 == 2.0
    assert by_time[2].s1 == 1.2 and by_time[2].s2 == 2.2


def test_insert_too_big_and_invalid(db):
    from btrdb_server_spark.constants import ERR_INSERT_TOO_BIG

    with pytest.raises(BTrDBError) as ei:
        db.insert("s1", [(i, 1.0) for i in range(25_001)])
    assert ei.value.code == ERR_INSERT_TOO_BIG
    with pytest.raises(BTrDBError):
        db.insert("s1", [(1, float("nan"))])
    with pytest.raises(BTrDBError):
        db.insert("s1", [((48 << 56) - 1, 1.0)])
    # A rejected batch must leave no trace: validation piggybacks on the
    # write job (Observation) and rolls back before the manifest commit.
    assert db.store.version == 0
    assert db.store.points_at().count() == 0
    # The rolled-back version number is reused by the next commit.
    assert db.insert("s1", [(1, 1.0)]) == 1
    assert db.store.points_at().count() == 1


def test_compaction_preserves_state_and_buckets(db, spark):
    """Compaction folds versions + tombstones into a bucketed base; queries
    return identical results; pre-compaction versions become unaddressable."""
    import pyspark.sql.functions as F

    for u in ("s1", "s2", "s3"):
        db.insert(u, [(i * 7, float(i)) for i in range(500)])
    db.delete("s2", 70, 700)
    before = {
        u: [(r.time, r.value) for r in db.raw_values(u, 0, 10**6).collect()]
        for u in ("s1", "s2", "s3")
    }
    v = db.store.compact()
    after = {
        u: [(r.time, r.value) for r in db.raw_values(u, 0, 10**6).collect()]
        for u in ("s1", "s2", "s3")
    }
    assert before == after
    # bucketed layout exists and single-stream scan carries the bucket pred
    plan = db.raw_values("s1", 0, 10**6)._jdf.queryExecution().executedPlan().toString()
    assert "uuid_bucket" in plan
    # old versions now unaddressable
    import pytest as _pytest
    from btrdb_server_spark.store import BTrDBError

    with _pytest.raises(BTrDBError):
        db.raw_values("s1", 0, 10**6, version=1).collect()
    # new writes continue on top
    db.insert("s1", [(10**6 + 5, 1.0)])
    assert db.raw_values("s1", 0, 10**7).count() == 501


def test_write_csv_sink(db, tmp_path, spark):
    """GenerateCSV's output stage (S3): header row, one line per timestamp,
    empty cells for absent streams (serve.go:969-999, csv.go:75-81)."""
    import csv as csvmod
    import glob

    from btrdb_server_spark.operators.align import write_csv

    db.insert("s1", [(1, 1.0), (3, 3.0)])
    db.insert("s2", [(3, 30.0), (5, 50.0)])
    out = str(tmp_path / "csv_out")
    write_csv(db.generate_csv(["s1", "s2"], 0, 10), out)
    files = glob.glob(out + "/part-*.csv")
    assert len(files) == 1  # coalesce(1): single response stream
    with open(files[0]) as f:
        rows = list(csvmod.reader(f))
    assert rows[0] == ["time", "s1", "s2"]
    data = {r[0]: (r[1], r[2]) for r in rows[1:]}
    assert data["1"] == ("1.0", "")      # empty cell for absent stream
    assert data["3"] == ("3.0", "30.0")
    assert data["5"] == ("", "50.0")


def test_registry_mutation_log_is_o1_and_replays(spark, tmp_path):
    """etcd log+snapshot shape: single mutations append one fsync'd line —
    the parquet snapshot must NOT be rewritten per mutation — and a fresh
    process replays the log (crash before compaction) to identical state."""
    import os

    from btrdb_server_spark.metadata import StreamRegistry

    path = str(tmp_path / "reg")
    reg = StreamRegistry(spark, path)
    reg.create("u0", "c/a", {"name": "s0"})
    reg.compact()  # establish a snapshot
    snap_stat = os.stat(reg.parquet_path)

    for i in range(1, 30):
        reg.create(f"u{i}", "c/a", {"name": f"s{i}"})
    reg.set_annotations("u3", 1, {"k": "v"})
    reg.obliterate("u7")

    # O(1) mutations: the snapshot file was not touched, the log grew.
    st = os.stat(reg.parquet_path)
    assert (st.st_mtime_ns, st.st_size) == (
        snap_stat.st_mtime_ns,
        snap_stat.st_size,
    )
    assert os.path.exists(reg._log_path)
    assert reg._log_count == 31

    # Read path sees log state (overlay union), not just the snapshot.
    live = {r.uuid for r in reg.live_df().collect()}
    assert "u7" not in live and {"u0", "u3", "u29"} <= live
    assert len(live) == 29

    # Simulated crash before compaction: replay restores identical state.
    reg2 = StreamRegistry(spark, path)
    assert reg2.stream_info("u3")["annotations"] == {"k": "v"}
    assert reg2.stream_info("u3")["annotation_version"] == 2
    import pytest as _pt

    from btrdb_server_spark.store import BTrDBError

    with _pt.raises(BTrDBError):
        reg2.create("u7", "elsewhere")  # tombstone survives via log replay
    assert {r.uuid for r in reg2.live_df().collect()} == live

    # Compaction folds the log into the snapshot and removes it.
    reg2.compact()
    assert not os.path.exists(reg2._log_path)
    reg3 = StreamRegistry(spark, path)
    assert {r.uuid for r in reg3.live_df().collect()} == live


def test_registry_log_autocompacts_at_threshold(spark, tmp_path, monkeypatch):
    import os

    from btrdb_server_spark.metadata import StreamRegistry

    monkeypatch.setattr(StreamRegistry, "COMPACT_EVERY", 10)
    reg = StreamRegistry(spark, str(tmp_path / "reg"))
    for i in range(25):
        reg.create(f"u{i}", "c", {"name": f"s{i}"})
    # 25 mutations with threshold 10 -> compacted twice, 5 in the log.
    assert reg._log_count == 5
    assert {r.uuid for r in reg.live_df().collect()} == {f"u{i}" for i in range(25)}


def test_fresh_versions_use_sentinel_bucket_lsm_layout(spark, tmp_path):
    """Ingest hot path (LSM contract): fresh versions write one sorted
    file per task into the sentinel uuid_bucket=-1 dir — never the
    dynamic-partition writer (512 tiny files/batch at 32 tasks x 16
    buckets was a measured 40% insert-throughput tax). compact() is what
    builds the real hash-bucket dirs. Single-stream reads must include
    the fresh sentinel dir alongside the pruned bucket."""
    import os

    from btrdb_server_spark.store import FRESH_BUCKET, PointStore

    store = PointStore(spark, str(tmp_path / "s"))
    pts = spark.createDataFrame(
        [(f"u{i % 4}", 1000 + i, float(i)) for i in range(64)],
        "uuid string, time long, value double",
    )
    store.insert_many(pts)
    ver_dir = tmp_path / "s" / "points" / "ins_ver=1"
    assert sorted(os.listdir(ver_dir)) == [f"uuid_bucket={FRESH_BUCKET}"]
    # single-stream read: sees the fresh rows, and the scan's partition
    # predicate admits the sentinel dir plus exactly one hash bucket
    got = store.stream_points("u1").orderBy("time").collect()
    assert [r.value for r in got] == [float(i) for i in range(64) if i % 4 == 1]
    # partition pruning must admit EXACTLY the sentinel dir plus the one
    # hash bucket: the predicate is an OR of the two literal values. Use
    # the formatted explain — executedPlan().toString() truncates metadata
    # fields at spark.sql.maxMetadataStringLength (100 chars), and with
    # 5-digit attribute ids (a long pytest session) the OR clause falls
    # past the cap, so a regex on toString() is order-dependent.
    jqe = store.stream_points("u1")._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = jqe.explainString(mode)
    import re as _re

    m = _re.search(
        r"\(uuid_bucket#\d+L? = -1\) OR \(uuid_bucket#\d+L? = \d+\)", plan
    )
    assert m, f"fresh-or-bucket partition predicate missing:\n{plan}"
    # after compact, the live generation (points_path resolves through the
    # manifest pointer) holds real buckets and no sentinel dir
    store.compact()
    import pathlib

    proot = pathlib.Path(store.points_path)
    vroot = proot / sorted(os.listdir(proot))[0]
    buckets = [b for b in os.listdir(vroot) if (vroot / b).is_dir()]
    assert f"uuid_bucket={FRESH_BUCKET}" not in buckets
    assert all(b.startswith("uuid_bucket=") for b in buckets) and len(buckets) >= 1
    assert store.stream_points("u1").count() == 16


def test_compact_flips_generation_atomically_with_retention(spark, tmp_path):
    """compact() builds the next points generation beside the current one
    and flips the manifest pointer in one atomic write; the superseded
    generation stays on disk until the NEXT compact (two-generation
    retention) so in-flight scans finish cleanly, then is garbage
    collected."""
    import os

    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    pts = spark.createDataFrame(
        [(f"u{i % 3}", i, float(i)) for i in range(32)],
        "uuid string, time long, value double",
    )
    store.insert_many(pts)
    gen0 = store.points_path
    store.compact()
    gen1 = store.points_path
    assert gen1 != gen0
    assert os.path.isdir(gen0), "superseded generation must be retained"
    assert store.points_at().count() == 32
    store.insert_many(pts)
    store.compact()
    gen2 = store.points_path
    assert gen2 != gen1
    assert not os.path.isdir(gen0), "two-generation retention: gen0 GC'd"
    assert os.path.isdir(gen1)
    assert store.points_at().count() == 64


def test_repeat_compact_is_a_true_noop(spark, tmp_path):
    """compact() with no new versions since the last compact must not
    touch the live generation at all (it would otherwise rebuild into the
    SAME gen dir, rmtree-ing the live directory out from under readers)."""
    import os

    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert_many(
        spark.createDataFrame(
            [("u", i, float(i)) for i in range(16)],
            "uuid string, time long, value double",
        )
    )
    v = store.compact()
    gen = store.points_path
    mtime = os.stat(gen).st_mtime_ns
    assert store.compact() == v  # idempotent
    assert store.points_path == gen
    assert os.stat(gen).st_mtime_ns == mtime  # directory untouched
    assert store.points_at().count() == 16


def test_incremental_compact_rewrites_only_touched_buckets(spark, tmp_path):
    """After a base exists, compact() folds the fresh tail into ONLY the
    uuid_bucket partitions that own a fresh or tombstoned uuid; untouched
    bucket dirs are carried into the new generation as hard links (same
    inode) — compaction cost tracks the tail, not the base (the reference's
    COW tree rewrites only touched root-to-leaf paths, never the tree)."""
    import os

    from pyspark.sql import functions as F

    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=8)
    pts = spark.createDataFrame(
        [(f"u{i % 40}", t, float(t)) for i in range(40) for t in range(i, 400, 40)],
        "uuid string, time long, value double",
    )
    store.insert_many(pts)
    store.compact()  # establish the base
    before = {
        (r.uuid, r.time): r.value for r in store.points_at().collect()
    }
    base_dir = os.path.join(store.points_path, "ins_ver=1")
    inodes = {
        b: {f: os.stat(os.path.join(base_dir, b, f)).st_ino
            for f in os.listdir(os.path.join(base_dir, b))
            if not f.startswith(("_", "."))}
        for b in os.listdir(base_dir) if b.startswith("uuid_bucket=")
    }
    # one fresh uuid -> exactly one touched bucket
    store.insert("u0", [(1000, 42.0)])
    v = store.compact()
    b0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("u0")), F.lit(8)).alias("b")
    ).collect()[0].b
    new_base = os.path.join(store.points_path, f"ins_ver={v}")
    n_linked = n_rewritten = 0
    for b in os.listdir(new_base):
        if not b.startswith("uuid_bucket="):
            continue
        files = {f: os.stat(os.path.join(new_base, b, f)).st_ino
                 for f in os.listdir(os.path.join(new_base, b))
                 if not f.startswith(("_", "."))}
        if b == f"uuid_bucket={b0}":
            assert files.keys() != inodes[b].keys() or set(
                files.values()
            ) != set(inodes[b].values()), "touched bucket must be rewritten"
            n_rewritten += 1
        else:
            assert set(files.values()) == set(
                inodes[b].values()
            ), f"untouched bucket {b} must be hard-linked, not rewritten"
            n_linked += 1
    assert n_rewritten == 1 and n_linked >= 1
    after = {(r.uuid, r.time): r.value for r in store.points_at().collect()}
    before[("u0", 1000)] = 42.0
    assert after == before


def test_incremental_compact_applies_tombstones_to_touched_bucket(spark, tmp_path):
    """A delete-only tail: the tombstoned uuid's bucket is rewritten with
    the tombstone applied; every other bucket is carried forward; answers
    match a full rewrite."""
    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=8)
    pts = spark.createDataFrame(
        [(f"u{i}", t, float(t)) for i in range(20) for t in range(10)],
        "uuid string, time long, value double",
    )
    store.insert_many(pts)
    store.compact()
    store.delete_range("u3", 2, 6)
    store.compact()
    got = sorted(
        (r.time, r.value)
        for r in store.stream_points("u3").collect()
    )
    assert got == [(t, float(t)) for t in [0, 1, 6, 7, 8, 9]]
    assert store.points_at().count() == 20 * 10 - 4
    # tombstones folded: deletes dir cleared, manifest flag down
    assert store._read_manifest()["has_deletes"] is False


def test_compact_rebucket_on_compacted_store_is_safe(spark, tmp_path):
    """ADVICE r8 (medium): compact(num_buckets=N) on an ALREADY-compacted
    store used to compute new_dir == old_dir and rmtree the live generation
    before repopulating it. Generation names are now unique per compaction:
    the rebucket builds beside the live gen, flips atomically, keeps the
    superseded gen (retention), and answers stay identical."""
    import os

    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert_many(
        spark.createDataFrame(
            [(f"u{i % 5}", i, float(i)) for i in range(50)],
            "uuid string, time long, value double",
        )
    )
    v = store.compact()
    gen1 = store.points_path
    before = sorted((r.uuid, r.time, r.value) for r in store.points_at().collect())
    assert store.compact(num_buckets=8) == v  # same version, new layout
    gen2 = store.points_path
    assert gen2 != gen1, "rebucket must build a NEW generation dir"
    assert os.path.isdir(gen1), "superseded generation retained until next compact"
    assert store.num_buckets == 8
    after = sorted((r.uuid, r.time, r.value) for r in store.points_at().collect())
    assert after == before
    # next compact retires gen1 (two-generation retention unchanged)
    store.insert("u0", [(999, 9.0)])
    store.compact()
    assert not os.path.isdir(gen1)


def test_changes_below_compaction_point_raises(spark, tmp_path):
    """ADVICE r8: changes() mirrors the points_at guard — a from_ver below
    the compaction point cannot be diffed (history is folded into the
    snapshot) and raises instead of reporting the whole snapshot."""
    import pytest as _pytest

    from btrdb_server_spark.store import BTrDBError, PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("u", [(1, 1.0)])
    store.insert("u", [(2, 2.0)])
    cv = store.compact()
    store.insert("u", [(3, 3.0)])
    with _pytest.raises(BTrDBError):
        store.changes("u", cv - 1, store.version, 4).collect()
    ok = store.changes("u", cv, store.version, 4).collect()
    assert len(ok) >= 1


def test_ingest_compaction_cadence_is_durable(spark, tmp_path):
    """The auto-compaction trigger is (version - compacted_through) >=
    compact_every — manifest state, not an in-process counter — so a
    replayed (already-committed) batch does not advance the cadence and a
    fresh pipeline object resumes the cadence where the store stands."""
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.ingest import IngestPipeline

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    pipe = IngestPipeline(store, compact_every=3)
    mk = lambda t: spark.createDataFrame(
        [("u", t, float(t))], "uuid string, time long, value double"
    )
    pipe._process_batch(mk(1), batch_id=0)
    pipe._process_batch(mk(2), batch_id=1)
    assert store.compacted_through == 0  # 2 versions < cadence 3
    # replaying committed ids mints no version and must not trigger anything
    pipe._process_batch(mk(1), batch_id=0)
    pipe._process_batch(mk(2), batch_id=1)
    assert store.version == 2 and store.compacted_through == 0
    # a RESTARTED pipeline (fresh object) still fires on the 3rd version
    pipe2 = IngestPipeline(store, compact_every=3)
    pipe2._process_batch(mk(3), batch_id=2)
    assert store.compacted_through == store.version == 3


def test_compact_migrates_legacy_retired_dir_key(spark, tmp_path):
    """Retention-ledger migration: a pre-r11 manifest records ONE
    superseded generation under `retired_points_dir`; the next compact
    folds it into the `retired_points_dirs` list and retention applies
    across the boundary (the legacy dir is dropped once it falls outside
    generations_retained)."""
    import json
    import os

    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("a", [(1, 1.0)])
    store.compact()  # retires the original "points" dir
    m = json.load(open(store.manifest_path))
    assert m["retired_points_dirs"] == ["points"]
    # rewrite as the legacy single-dir key (pre-r11 manifest shape)
    m["retired_points_dir"] = m.pop("retired_points_dirs")[0]
    json.dump(m, open(store.manifest_path, "w"))

    store.insert("a", [(2, 2.0)])
    store.compact()  # default N=2: the legacy dir must be reclaimed
    m2 = json.load(open(store.manifest_path))
    assert "retired_points_dir" not in m2
    assert m2["retired_points_dirs"] == [m["points_dir"]]
    assert not os.path.isdir(os.path.join(store.path, "points"))
    assert [(r.time, r.value) for r in store.points_at().orderBy("time").collect()] == [
        (1, 1.0),
        (2, 2.0),
    ]


def test_reads_pin_one_manifest_snapshot(spark, tmp_path, monkeypatch):
    """A read plans against ONE manifest snapshot. A writer in the same
    process can commit an insert and a compaction between two manifest
    reads; a read that took its version from the old manifest and its
    generation from the new one would filter ins_ver <= v against a base
    written at v+1 and silently answer nothing. Reproduced by serving the
    pre-commit manifest to the read's first manifest read only."""
    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "snap"))
    store.insert("a", [(t, float(t)) for t in range(10)])  # v1
    before = store._read_manifest()
    store.insert("a", [(t, 1.0) for t in range(100, 105)])  # v2
    store.compact()  # new generation, base at ins_ver=2
    real = PointStore._read_manifest

    def first_read_is_stale(self):
        first_read_is_stale.calls += 1
        return dict(before) if first_read_is_stale.calls == 1 else real(self)

    def plan(read):
        first_read_is_stale.calls = 0
        monkeypatch.setattr(PointStore, "_read_manifest", first_read_is_stale)
        try:
            return read()
        finally:
            monkeypatch.setattr(PointStore, "_read_manifest", real)

    for read in (store.points_at, lambda: store.stream_points("a")):
        rows = plan(read).collect()
        assert sorted(r.time for r in rows) == list(range(10))
    ranges = plan(lambda: store.changes("a", 0, 1, 0)).collect()
    assert [(r.start, r.end) for r in ranges] == [(0, 10)]


def test_tombstones_follow_the_manifest_snapshot(spark, tmp_path):
    """One PointStore handle applies each manifest snapshot's tombstones:
    a new delete applies on the next read, a read at an older explicit
    version does not see it, and compaction keeps the points hidden."""
    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "tomb"))
    store.insert("a", [(t, float(t)) for t in range(10)])
    v1 = store.version

    def times(version=None):
        return sorted(r.time for r in store.stream_points("a", version).collect())

    assert times() == list(range(10))
    store.delete_range("a", 2, 5)
    hidden = [0, 1, 5, 6, 7, 8, 9]
    assert times() == hidden
    assert times(v1) == list(range(10))
    store.compact()
    assert times() == hidden
    store.delete_range("a", 7, 8)
    assert times() == [0, 1, 5, 6, 8, 9]


def test_many_tombstones_keep_reads_exact(spark, tmp_path, monkeypatch):
    """A thousand live tombstones over ten streams: a fleet read and a
    single-stream read each hide exactly the covered points. The
    visibility predicate holds them as one folded literal, so planning
    does not grow with their count."""
    from btrdb_server_spark.store import PointStore

    store = PointStore(spark, str(tmp_path / "many"))
    uuids = [f"s{i}" for i in range(10)]
    store.insert_many(spark.createDataFrame(
        [(u, t, float(t)) for u in uuids for t in range(300)],
        "uuid string, time long, value double",
    ))
    store.insert("s0", [(1000, 1.0)])  # version 2: newer than every tombstone
    # 100 tombstones per stream at version 2, each covering [t, t + 1)
    tombs = tuple(
        {"uuid": uuids[i % 10], "start": i // 10 * 3,
         "end": i // 10 * 3 + 1, "ver": 2}
        for i in range(1000)
    )
    monkeypatch.setattr(store, "_tombstones", lambda m: tombs)
    hidden = {(d["uuid"], d["start"]) for d in tombs}
    want = [(u, t) for u in uuids for t in range(300) if (u, t) not in hidden]
    got = sorted((r.uuid, r.time) for r in store.points_at().collect())
    assert got == sorted(want + [("s0", 1000)])
    got = sorted(r.time for r in store.stream_points("s3").collect())
    assert got == [t for u, t in want if u == "s3"]
