"""Rollup ladder golden-equivalence tests (rollup answers == on-the-fly
answers, mirroring qtree2_test.go's recomputation oracle) and streaming
ingest tests (buffered visibility, flush, late data)."""

from __future__ import annotations

import random
import time as _time

import pytest
from pyspark.sql import functions as F

from btrdb_server_spark.operators.stat import aligned_windows
from btrdb_server_spark.plans.rollup import RollupLadder, rollup_from_points
from btrdb_server_spark.schemas import POINTS_SCHEMA
from btrdb_server_spark.store import PointStore
from btrdb_server_spark.streaming.ingest import IngestPipeline


def make_points(spark, rows, uuid="s"):
    return spark.createDataFrame(
        [(uuid, int(t), float(v)) for t, v in rows], POINTS_SCHEMA
    )


@pytest.fixture(scope="module")
def jittered(spark):
    """F2-style randomized fixture: jittered timestamps, random values."""
    rng = random.Random(42)
    t, rows = 0, []
    for _ in range(5000):
        t += rng.randint(1, 10_000)
        rows.append((t, rng.random()))
    df = make_points(spark, rows).cache()
    df.count()
    return df


def stats_equal(a, b):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x.time == y.time
        assert x["count"] == y["count"]
        assert x["min"] == pytest.approx(y["min"])
        assert x["max"] == pytest.approx(y["max"])
        assert x["mean"] == pytest.approx(y["mean"])


def test_rollup_serves_same_answers(spark, tmp_path, jittered):
    ladder = RollupLadder(spark, str(tmp_path / "ladder"), levels=[8, 14, 20])
    ladder.rebuild(jittered)
    hi = jittered.agg(F.max("time")).first()[0]
    for pw in (8, 10, 14, 16, 20, 24):
        direct = aligned_windows(jittered, "s", 0, hi + 1, pw).collect()
        routed = ladder.serve_aligned(jittered, "s", 0, hi + 1, pw).collect()
        stats_equal(routed, direct)


def test_rollup_serves_fleet_answers(spark, tmp_path):
    """serve_aligned_all == the raw fleet aggregation for every stream."""
    from btrdb_server_spark.operators.stat import aligned_windows_all_streams

    rows = []
    rng = random.Random(9)
    for u in ("a", "b", "c"):
        t = 0
        for _ in range(2000):
            t += rng.randint(1, 5000)
            rows.append((u, t, rng.random()))
    pts = spark.createDataFrame(rows, POINTS_SCHEMA)
    ladder = RollupLadder(spark, str(tmp_path / "l"), levels=[8, 14])
    ladder.rebuild(pts)
    hi = max(r[1] for r in rows) + 1
    for pw in (14, 20):
        direct = (
            aligned_windows_all_streams(pts, 0, hi, pw)
            .orderBy("uuid", "time")
            .collect()
        )
        routed = ladder.serve_aligned_all(pts, 0, hi, pw).orderBy("uuid", "time").collect()
        assert len(direct) == len(routed)
        for x, y in zip(routed, direct):
            assert (x.uuid, x.time, x["count"]) == (y.uuid, y.time, y["count"])
            assert x["min"] == pytest.approx(y["min"])
            assert x["max"] == pytest.approx(y["max"])
            assert x["mean"] == pytest.approx(y["mean"])
    # below the finest level: falls back to raw aggregation
    routed = ladder.serve_aligned_all(pts, 0, hi, 4).orderBy("uuid", "time").collect()
    direct = aligned_windows_all_streams(pts, 0, hi, 4).orderBy("uuid", "time").collect()
    assert len(routed) == len(direct)


def test_rollup_fallback_below_finest(spark, tmp_path, jittered):
    ladder = RollupLadder(spark, str(tmp_path / "ladder"), levels=[14])
    ladder.rebuild(jittered)
    hi = jittered.agg(F.max("time")).first()[0]
    direct = aligned_windows(jittered, "s", 0, hi + 1, 6).collect()
    routed = ladder.serve_aligned(jittered, "s", 0, hi + 1, 6).collect()
    stats_equal(routed, direct)


def test_rollup_incremental_matches_rebuild(spark, tmp_path, jittered):
    """Incremental batch folding == full rebuild, regardless of batch
    boundaries (GenBrk pattern, qtree2_test.go:27-38) — including an
    arbitrarily-late batch (ST2)."""
    rows = jittered.collect()
    rng = random.Random(7)
    idx = list(range(len(rows)))
    rng.shuffle(idx)  # deliver out of time order: late data
    inc = RollupLadder(spark, str(tmp_path / "inc"), levels=[10, 16])
    pos = 0
    while pos < len(idx):
        k = rng.randint(200, 1500)
        chunk = [rows[i] for i in idx[pos : pos + k]]
        inc.update_with_batch(
            spark.createDataFrame([(r.uuid, r.time, r.value) for r in chunk], POINTS_SCHEMA)
        )
        pos += k
    full = RollupLadder(spark, str(tmp_path / "full"), levels=[10, 16])
    full.rebuild(jittered)
    for pw in (10, 16):
        a = inc.level(pw).orderBy("uuid", "bucket").collect()
        b = full.level(pw).orderBy("uuid", "bucket").collect()
        assert len(a) == len(b)
        for x, y in zip(a, b):
            assert (x.uuid, x.bucket, x.cnt) == (y.uuid, y.bucket, y.cnt)
            assert x.vmin == pytest.approx(y.vmin)
            assert x.vmax == pytest.approx(y.vmax)
            assert x.vsum == pytest.approx(y.vsum)


def test_rollup_recompute_after_delete(spark, tmp_path):
    pts = make_points(spark, [(i, float(i)) for i in range(1000)])
    ladder = RollupLadder(spark, str(tmp_path / "l"), levels=[4])
    ladder.rebuild(pts)
    kept = pts.where(~F.col("time").between(100, 499))
    ladder.recompute_range(kept, "s", 100, 500)
    direct = aligned_windows(kept, "s", 0, 1000, 6).collect()
    routed = ladder.serve_aligned(kept, "s", 0, 1000, 6).collect()
    stats_equal(routed, direct)


def test_streaming_ingest_flush_and_visibility(spark, tmp_path):
    """F6-style buffered visibility: points written by the stream become
    visible after flush; version advances per micro-batch (pqm_test)."""
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    store = PointStore(spark, str(tmp_path / "store"))
    ladder = RollupLadder(spark, str(tmp_path / "ladder"), levels=[4])
    pipe = IngestPipeline(store, ladder)

    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    pipe.start(stream, str(tmp_path / "ckpt"))
    try:
        make_points(spark, [(100, 100.0)]).write.mode("append").parquet(str(src_dir))
        v = pipe.flush()
        assert v >= 1
        got = store.points_at().where(F.col("uuid") == "s").collect()
        assert [(r.time, r.value) for r in got] == [(100, 100.0)]

        # second batch: committed + new both visible (TestQueryReturnsBothResults)
        make_points(spark, [(105, 105.0)]).write.mode("append").parquet(str(src_dir))
        v2 = pipe.flush()
        assert v2 > v
        got = sorted(
            (r.time, r.value)
            for r in store.points_at().where(F.col("uuid") == "s").collect()
        )
        assert got == [(100, 100.0), (105, 105.0)]

        # invalid rows dropped by the validation filter (F10)
        make_points(spark, [(110, float("nan")), (111, 1.5)]).write.mode(
            "append"
        ).parquet(str(src_dir))
        pipe.flush()
        times = sorted(
            r.time for r in store.points_at().where(F.col("uuid") == "s").collect()
        )
        assert times == [100, 105, 111]

        # ladder followed the stream
        lvl = ladder.level(4)
        assert lvl is not None and lvl.agg(F.sum("cnt")).first()[0] == 3
    finally:
        pipe.stop()


def test_foreachbatch_replay_is_idempotent(spark, tmp_path):
    """ST4: a crashed foreachBatch replays its batch id with identical data;
    the replay must not mint a new store version or double-fold the ladder
    (the idempotent-foreachBatch pattern)."""
    store = PointStore(spark, str(tmp_path / "store"))
    ladder = RollupLadder(spark, str(tmp_path / "ladder"), levels=[4, 10])
    pipe = IngestPipeline(store, ladder)

    b0 = make_points(spark, [(i, float(i)) for i in range(100)])
    pipe._process_batch(b0, 0)
    v_after = store.version
    counts = {pw: ladder.level(pw).agg(F.sum("cnt")).first()[0] for pw in (4, 10)}
    assert v_after == 1 and counts == {4: 100, 10: 100}

    pipe._process_batch(b0, 0)  # full replay
    assert store.version == v_after
    for pw in (4, 10):
        assert ladder.level(pw).agg(F.sum("cnt")).first()[0] == 100

    # partial crash: the store committed batch 1 but the process died before
    # the ladder folded it. The replay must skip the store insert (no new
    # version) yet still fold every ladder level exactly once.
    b1 = make_points(spark, [(1000 + i, 1.0) for i in range(50)])
    store.insert_many(b1, batch_id=1)
    assert store.version == 2
    pipe._process_batch(b1, 1)  # replay
    assert store.version == 2  # no third version
    for pw in (4, 10):
        assert ladder.level(pw).agg(F.sum("cnt")).first()[0] == 150
    pipe._process_batch(b1, 1)  # replay again: fully committed, full no-op
    assert store.version == 2
    for pw in (4, 10):
        assert ladder.level(pw).agg(F.sum("cnt")).first()[0] == 150


def test_api_with_rollups_end_to_end(spark, tmp_path):
    """Facade with a ladder: stat queries route through rollups and stay
    correct across inserts and deletes."""
    from btrdb_server_spark.api import BTrDB

    db = BTrDB(spark, str(tmp_path / "db"), rollup_levels=[6, 12])
    db.insert("s1", [(i * 37, float(i % 100)) for i in range(3000)])
    direct = aligned_windows(db.store.points_at(), "s1", 0, 3000 * 37, 14).collect()
    routed = db.aligned_windows("s1", 0, 3000 * 37, 14).collect()
    stats_equal(routed, direct)
    db.delete("s1", 10_000, 60_000)
    direct = aligned_windows(db.store.points_at(), "s1", 0, 3000 * 37, 14).collect()
    routed = db.aligned_windows("s1", 0, 3000 * 37, 14).collect()
    stats_equal(routed, direct)
    # late out-of-order insert folds into the same buckets
    db.insert("s1", [(15, 1.0), (20_000, 2.0)])
    direct = aligned_windows(db.store.points_at(), "s1", 0, 3000 * 37, 14).collect()
    routed = db.aligned_windows("s1", 0, 3000 * 37, 14).collect()
    stats_equal(routed, direct)


def test_windows_served_from_rollup(spark, tmp_path):
    from btrdb_server_spark.api import BTrDB
    from btrdb_server_spark.operators.stat import windows as windows_op

    db = BTrDB(spark, str(tmp_path / "db"), rollup_levels=[4])
    db.insert("s1", [(i, float(i % 10)) for i in range(4096)])
    direct = windows_op(db.store.points_at(), "s1", 0, 4096, 256, depth=4).collect()
    routed = db.windows("s1", 0, 4096, 256, depth=4).collect()
    stats_equal(routed, direct)


def _level_files(level_dir):
    """{relative parquet path: (size, mtime_ns)} for every data file."""
    import os

    out = {}
    for root, _, files in os.walk(level_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, level_dir)] = (st.st_size, st.st_mtime_ns)
    return out


def test_update_rewrites_only_touched_partitions(spark, tmp_path):
    """Incremental maintenance is partition-targeted (qtree.go:442-474
    SetChild): a batch confined to one chunk's time range leaves every other
    (uuid_bucket, chunk) partition's files byte-for-byte untouched."""
    chunk_w = 1 << 20  # min_chunk_shift=20 -> 2**20 ns chunks
    ladder = RollupLadder(
        spark, str(tmp_path / "l"), levels=[4], min_chunk_shift=20
    )
    base = make_points(
        spark, [(i * (chunk_w // 64), float(i)) for i in range(64 * 40)]
    )  # ~40 chunks
    ladder.rebuild(base)
    level_dir = str(tmp_path / "l" / "pw=4")
    before = _level_files(level_dir)
    assert len({f.split("/")[1] for f in before}) > 10  # many chunk dirs

    # batch confined to chunk 5
    batch = make_points(spark, [(5 * chunk_w + j * 100, 1.0) for j in range(50)])
    ladder.update_with_batch(batch)
    after = _level_files(level_dir)

    changed = {
        f for f in set(before) | set(after) if before.get(f) != after.get(f)
    }
    assert changed, "the touched chunk must be rewritten"
    assert all("chunk=5" in f for f in changed), changed

    # and the merged level equals a from-scratch rebuild
    full = RollupLadder(
        spark, str(tmp_path / "full"), levels=[4], min_chunk_shift=20
    )
    full.rebuild(base.unionByName(batch))
    a = ladder.level(4).orderBy("uuid", "bucket").collect()
    b = full.level(4).orderBy("uuid", "bucket").collect()
    assert [(r.uuid, r.bucket, r.cnt, r.vmin, r.vmax, r.vsum) for r in a] == [
        (r.uuid, r.bucket, r.cnt, r.vmin, r.vmax, r.vsum) for r in b
    ]


def test_recompute_range_drops_emptied_chunks(spark, tmp_path):
    """A range delete that empties a whole chunk removes its directory —
    stale rollup rows must not survive the dynamic overwrite."""
    chunk_w = 1 << 20
    ladder = RollupLadder(spark, str(tmp_path / "l"), levels=[4], min_chunk_shift=20)
    pts = make_points(spark, [(i * (chunk_w // 16), float(i)) for i in range(16 * 6)])
    ladder.rebuild(pts)
    # delete chunk 2 entirely plus half of chunk 3
    dstart, dend = 2 * chunk_w, 3 * chunk_w + chunk_w // 2
    kept = pts.where(~F.col("time").between(dstart, dend - 1))
    ladder.recompute_range(kept, "s", dstart, dend)
    got = ladder.level(4).where(
        (F.col("bucket") >= dstart) & (F.col("bucket") < dend)
    )
    assert got.count() == 0
    direct = aligned_windows(kept, "s", 0, 16 * 6 * (chunk_w // 16), 8).collect()
    routed = ladder.serve_aligned(kept, "s", 0, 16 * 6 * (chunk_w // 16), 8).collect()
    stats_equal(routed, direct)


def test_serve_dispatcher_routes_by_request(spark, tmp_path):
    """serve() picks the physical strategy from the logical request: a
    coarse aligned query at latest version scans the materialized ladder
    (the plan reads the rollups path); an explicit-version query must not
    touch the ladder; answers agree with the raw aggregation either way."""
    from btrdb_server_spark.api import BTrDB

    db = BTrDB(spark, str(tmp_path / "db"), rollup_levels=[6])
    db.insert("s1", [(i * 11, float(i % 50)) for i in range(4000)])

    # The ladder-served plan scans rollup rows (vsum/cnt in the read
    # schema); the explicit-version plan aggregates raw points (value).
    routed = db.serve("aligned", "s1", 0, 4000 * 11, pw=12)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "vsum:double" in plan and "value:double" not in plan

    pinned = db.serve("aligned", "s1", 0, 4000 * 11, pw=12, version=1)
    plan_v = pinned._jdf.queryExecution().executedPlan().toString()
    assert "vsum:double" not in plan_v and "value:double" in plan_v

    stats_equal(routed.collect(), pinned.collect())

    # windows routing + argument contract
    w = db.serve("windows", "s1", 0, 4000 * 11, width=4400, depth=6)
    assert w.count() == 10
    with pytest.raises(ValueError):
        db.serve("windows", "s1", 0, 100, depth=6)
    with pytest.raises(ValueError):
        db.serve("nope", "s1", 0, 100)


def test_windows_rollup_start_straddle_included(spark, tmp_path):
    """A 2**level bucket straddling the query start participates WHOLE,
    clamped into the first window (qtree.go:1126-1148 non-descendable
    buckets) — no in-range point silently vanishes from the stats."""
    pts = make_points(spark, [(i, 1.0) for i in range(100)])
    ladder = RollupLadder(spark, str(tmp_path / "l"), levels=[4])
    ladder.rebuild(pts)
    # start=5 falls inside bucket [0,16); end=101 -> 3 whole windows of 32.
    out = ladder.serve_windows(pts, "s", 5, 101, 32, depth=4).collect()
    assert [r.time for r in out] == [5, 37, 69]
    # whole-bucket attribution: w0 = buckets 0,16,32; w1 = 48,64; w2 = 80,96
    assert [r["count"] for r in out] == [48, 32, 20]
    # every point counted exactly once — nothing dropped at the edges
    assert sum(r["count"] for r in out) == 100


def test_windows_rollup_validates_args(spark, tmp_path):
    pts = make_points(spark, [(i, 1.0) for i in range(32)])
    ladder = RollupLadder(spark, str(tmp_path / "l"), levels=[4])
    ladder.rebuild(pts)
    with pytest.raises(ValueError):
        ladder.serve_windows(pts, "s", 0, 32, 8, depth=64)  # quasar.go:318
    with pytest.raises(ValueError):
        ladder.serve_windows(pts, "s", 0, 32, 0, depth=4)


def test_facade_aligned_windows_all(spark, tmp_path):
    """Fleet AlignedWindows on the facade: ladder-served when clean (plan
    reads rollup rows), raw + buffer-merged as soon as any stream buffers."""
    from btrdb_server_spark.api import BTrDB
    from btrdb_server_spark.operators.stat import aligned_windows_all_streams

    db = BTrDB(
        spark, str(tmp_path / "db"), rollup_levels=[6], buffer_commit_threshold=10
    )
    db.insert("a", [(i, float(i % 5)) for i in range(512)])
    db.insert("b", [(i * 2, 2.0) for i in range(256)])
    fleet = db.aligned_windows_all(0, 512, 8)
    assert "vsum" in fleet._jdf.queryExecution().executedPlan().toString()
    direct = {
        (r.uuid, r.time): r
        for r in aligned_windows_all_streams(db.store.points_at(), 0, 512, 8).collect()
    }
    served = {(r.uuid, r.time): r for r in fleet.collect()}
    assert set(direct) == set(served) and len(direct) > 2
    for k, d in direct.items():
        s = served[k]
        assert (d["min"], d["max"], d["count"]) == (s["min"], s["max"], s["count"])
        assert abs(d["mean"] - s["mean"]) < 1e-9
    db.insert("c", [(3, 9.0)])  # buffered: fleet reads must include it
    fleet2 = db.serve("aligned_all", "", 0, 512, pw=8)
    assert "vsum" not in fleet2._jdf.queryExecution().executedPlan().toString()
    rows = {(r.uuid, r.time): r for r in fleet2.collect()}
    assert rows[("c", 0)]["max"] == 9.0


def test_hist_ladder_coarsening_is_exact(spark):
    """The histogram ladder's 64:1 step must be lossless: coarsening the
    fine level equals building the coarse level from raw points directly
    (the associativity that makes the quantile tier mergeable under any
    partitioning)."""
    from btrdb_server_spark.plans.rollup import hist_from_hist, hist_from_points
    from btrdb_server_spark.sources.testdata import load_points

    pts = load_points(spark, "/root/testdata/sf0.001", None, None)
    via_ladder = hist_from_hist(hist_from_points(pts, 34), 40)
    direct = hist_from_points(pts, 40)
    assert via_ladder.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_ladder).count() == 0


def test_streaming_ingest_auto_compaction_cadence(spark, tmp_path):
    """With compact_every=N the ingest pipeline folds the LSM fresh tail
    every N committed micro-batches: after 4 single-file batches at
    compact_every=2, the store has compacted at least once, its newest
    layout contains real hash-bucket dirs, reads return every point, and
    versions below the compaction point are intentionally unaddressable."""
    import os

    import pytest as _pytest

    from btrdb_server_spark.store import FRESH_BUCKET, BTrDBError

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    store = PointStore(spark, str(tmp_path / "store"))
    pipe = IngestPipeline(store, compact_every=2)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    pipe.start(stream, str(tmp_path / "ckpt"))
    try:
        for k in range(4):
            make_points(spark, [(100 + k, float(k))]).coalesce(1).write.mode(
                "append"
            ).parquet(str(src_dir))
            pipe.flush()
    finally:
        pipe.stop()
    compacted = store._read_manifest().get("compacted_through", 0)
    assert compacted >= 2
    got = store.points_at().where(F.col("uuid") == "s").orderBy("time").collect()
    assert [(r.time, r.value) for r in got] == [(100 + k, float(k)) for k in range(4)]
    with _pytest.raises(BTrDBError):
        store.points_at(compacted - 1).collect()
    # the live generation's snapshot holds real hash buckets, not the
    # sentinel (points_path resolves through the manifest pointer)
    import pathlib

    pts_root = pathlib.Path(store.points_path)
    first = pts_root / sorted(os.listdir(pts_root))[0]
    buckets = [b for b in os.listdir(first) if (first / b).is_dir()]
    assert buckets and f"uuid_bucket={FRESH_BUCKET}" not in buckets


def test_changefeed_streams_committed_inserts_only(spark, tmp_path):
    """streaming/changefeed.py: a file-source subscription to the fresh
    sentinel dirs delivers every committed insert exactly once (version
    column from the path), resumes incrementally from its checkpoint,
    and never re-emits rewritten history after deletes/compaction."""
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("a", [(1, 1.0), (2, 2.0)])
    store.insert("b", [(5, 5.0)])
    feed = changefeed(store)
    ckpt = str(tmp_path / "ckpt")

    def drain(name):
        rows = []
        q = (
            feed.writeStream.foreachBatch(
                lambda b, _id: rows.extend(b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {(r.uuid, r.time, r.value, r.ins_ver) for r in rows}

    assert drain("cf1") == {
        ("a", 1, 1.0, 1), ("a", 2, 2.0, 1), ("b", 5, 5.0, 2),
    }
    store.insert("a", [(9, 9.0)])
    assert drain("cf2") == {("a", 9, 9.0, 3)}  # incremental: new rows only
    # a delete mints a version but the feed is insert-only, and the
    # compaction fold's rewritten history lands in hash-bucket dirs the
    # sentinel glob never matches — neither may re-emit anything
    store.delete_range("a", 0, 2)
    store.compact()
    store.insert("b", [(7, 7.0)])
    v = store.version
    assert drain("cf3") == {("b", 7, 7.0, v)}


def test_failed_insert_never_reaches_changefeed(spark, tmp_path):
    """An insert that FAILS validation must leave nothing in the sentinel
    dirs the changefeed globs: the write stages in a dot-prefixed dir and
    renames into place only after validation, so a live feed can never
    emit phantom rows for an aborted version (whose number the next
    insert reuses)."""
    import glob as globmod

    from btrdb_server_spark.store import BTrDBError, PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("a", [(1, 1.0)])  # v1 commits
    with pytest.raises(BTrDBError):
        store.insert("a", [(2, float("nan"))])  # aborted: would be v2
    # nothing visible for the aborted version — neither to the glob ...
    leaked = globmod.glob(
        f"{store.path}/points*/ins_ver=*/uuid_bucket=-1/*.parquet"
    )
    assert leaked and all("ins_ver=1/" in f for f in leaked)
    # ... nor to a feed drain; and the reused version number delivers
    # exactly the retry's rows
    v2 = store.insert("a", [(2, 2.0)])
    assert v2 == 2
    rows = []
    q = (
        changefeed(store)
        .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert {(r.uuid, r.time, r.value, r.ins_ver) for r in rows} == {
        ("a", 1, 1.0, 1),
        ("a", 2, 2.0, 2),
    }


def test_changefeed_deletes_streams_tombstones(spark, tmp_path):
    """streaming/changefeed.py changefeed_deletes: every committed
    delete_range arrives exactly once with its committing version,
    interleaved inserts bump versions in between, and the feed resumes
    incrementally from its checkpoint."""
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed_deletes

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("a", [(1, 1.0), (2, 2.0)])  # v1
    store.delete_range("a", 0, 2)            # v2
    store.insert("b", [(5, 5.0)])            # v3
    store.delete_range("b", 5, 6)            # v4
    feed = changefeed_deletes(store)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        rows = []
        q = (
            feed.writeStream.foreachBatch(
                lambda b, _id: rows.extend(b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {(r.uuid, r.start, r.end, r.ver) for r in rows}

    assert drain() == {("a", 0, 2, 2), ("b", 5, 6, 4)}
    store.delete_range("a", 2, 3)  # v5
    assert drain() == {("a", 2, 3, 5)}  # incremental: new tombstone only


def test_open_quarantines_uncommitted_version(spark, tmp_path):
    """store.recover(): a crash between _write_version's rename and the
    manifest commit leaves an ins_ver dir newer than the committed
    version. Reopening the store AS A WRITER must delete it
    (version-fenced recovery), so reads stay consistent AND a changefeed
    started after recovery never sees phantom rows for the
    never-committed version. A READ-ONLY open (writer=False) must NOT
    sweep — beside a live writer it would delete the about-to-commit
    version's data dir, and the writer would then commit a manifest
    pointing at deleted data (silent loss from a read-only open)."""
    import glob as globmod
    import json

    from btrdb_server_spark.store import PointStore

    path = str(tmp_path / "s")
    store = PointStore(spark, path, num_buckets=4)
    store.insert("a", [(1, 1.0)])  # v1 commits
    manifest = json.load(open(store.manifest_path))
    store.insert("a", [(2, 2.0)])  # v2 commits...
    json.dump(manifest, open(store.manifest_path, "w"))  # ...crash: roll back
    assert globmod.glob(f"{path}/points*/ins_ver=2/*")  # orphan on disk

    # a read-only open leaves the (possibly in-flight) dir alone...
    reader = PointStore(spark, path, num_buckets=4, writer=False)
    assert globmod.glob(f"{path}/points*/ins_ver=2/*")
    assert [(r.time, r.value) for r in reader.points_at().collect()] == [
        (1, 1.0)  # ...and batch reads were never exposed to it anyway
    ]

    reopened = PointStore(spark, path, num_buckets=4)
    assert not globmod.glob(f"{path}/points*/ins_ver=2*")  # quarantined
    assert [(r.time, r.value) for r in reopened.points_at().collect()] == [
        (1, 1.0)
    ]
    v = reopened.insert("a", [(3, 3.0)])  # version 2 is minted again
    assert v == 2
    assert sorted(
        (r.time, r.value) for r in reopened.points_at().collect()
    ) == [(1, 1.0), (3, 3.0)]


def test_changefeed_survives_lagging_one_compaction_at_n3(spark, tmp_path):
    """generations_retained: with N=3 a changefeed may lag a FULL
    compaction interval — files committed before a compaction it never
    drained remain on disk through the NEXT compaction, so the late drain
    still delivers them. (At the default N=2 the same lag loses the
    superseded generation — the documented LSM-CDC contract; the knob
    widens it.)"""
    import os as _os

    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        rows = []
        q = (
            changefeed(store)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {(r.uuid, r.time, r.value, r.ins_ver) for r in rows}

    store.insert("a", [(1, 1.0)])  # v1, lands in the original generation
    assert drain() == {("a", 1, 1.0, 1)}

    # The feed now LAGS: these commits are never drained before the
    # compactions that supersede their generations.
    store.insert("a", [(2, 2.0)])            # v2 -> original generation
    store.compact(generations_retained=3)    # gen A; original retained
    store.insert("a", [(3, 3.0)])            # v3 -> generation A
    store.compact(generations_retained=3)    # gen B; original + A retained
    store.insert("a", [(4, 4.0)])            # v4 -> generation B

    # the original generation (two compactions old) is still on disk
    assert _os.path.isdir(_os.path.join(store.path, "points"))
    # ...so the late drain loses nothing: v2's file (pre-first-compact),
    # v4's (pre-second-compact) and v6's all arrive
    assert drain() == {
        ("a", 2, 2.0, 2),
        ("a", 3, 3.0, 3),
        ("a", 4, 4.0, 4),
    }
    # and the ledger trims beyond N: a third compact drops the original
    store.insert("a", [(5, 5.0)])
    store.compact(generations_retained=3)
    assert not _os.path.isdir(_os.path.join(store.path, "points"))


def test_index_generations_retained_widens_scan_safety(spark, tmp_path):
    """index_store.set_generations_retained: at N=3 the dirs an op
    superseded survive the NEXT op too (a reader holding listings from
    two maintenance ops ago stays readable); the op after that drops
    them."""
    import os

    from btrdb_server_spark.functions import index_store as ixs
    from btrdb_server_spark.functions.dedup import (
        lsh_index_build,
        lsh_index_compact,
        lsh_index_retire,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3}") for i in range(24)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "ix")
    lsh_index_build(docs, p)
    ixs.set_generations_retained(p, 3)
    lsh_index_compact(spark, p)  # supersedes bands.gen0 (group 1)
    assert os.path.isdir(os.path.join(p, "bands.gen0"))
    lsh_index_retire(spark, p, [1, 2])  # creates the first tombstone gen:
    # nothing superseded (no prior tombstone set) -> no retention group
    assert os.path.isdir(os.path.join(p, "bands.gen0"))
    lsh_index_compact(spark, p)  # second superseding group: gen0 retained
    assert os.path.isdir(os.path.join(p, "bands.gen0"))
    lsh_index_compact(spark, p)  # third superseding group: gen0 drops
    assert not os.path.isdir(os.path.join(p, "bands.gen0"))
    m = ixs.read_manifest(p)
    assert m["generations_retained"] == 3


def test_version_fenced_changefeed_never_delivers_phantoms(spark, tmp_path):
    """changefeed(version_fence=True): a micro-batch that read a crashed
    writer's orphan dir (ins_ver newer than the committed manifest, and
    the commit never arrives) must FAIL — never silently drop — so the
    checkpointed file source re-delivers after recovery; the retry's
    rows then arrive exactly once."""
    import glob as globmod
    import json as _json
    import shutil as _shutil

    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    feed = changefeed(
        store, version_fence=True, fence_grace_sec=0.05, fence_max_wait_sec=1.0
    )

    def drain(expect_fail=False):
        rows = []
        q = (
            feed.writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if expect_fail:
            from pyspark.errors import StreamingQueryException

            with pytest.raises(StreamingQueryException):
                q.awaitTermination(120)
                raise AssertionError("fenced phantom batch must fail")
            assert rows == []  # and nothing was delivered
            return None
        assert q.awaitTermination(120)
        return sorted((r.uuid, r.time, r.value, r.ins_ver) for r in rows)

    store.insert("a", [(1, 1.0)])  # v1 commits
    assert drain() == [("a", 1, 1.0, 1)]

    # crash: v2's data dir renamed into place, manifest commit lost forever
    manifest = _json.load(open(store.manifest_path))
    store.insert("a", [(2, 999.0)])  # would be v2
    _json.dump(manifest, open(store.manifest_path, "w"))  # roll back
    orphan = globmod.glob(f"{store.path}/points*/ins_ver=2")
    assert orphan  # the phantom dir a running feed would otherwise glob

    # the fenced feed FAILS the batch (fail-and-retry, not drop-and-lose)
    drain(expect_fail=True)

    # recovery: quarantine the orphan (writer reopen) and retry the insert
    _shutil.rmtree(orphan[0])
    v = PointStore(spark, str(tmp_path / "s"), num_buckets=4).insert(
        "a", [(2, 2.0)]
    )
    assert v == 2
    # restart: the failed batch re-lists the quarantined (now absent)
    # orphan files — ignoreMissingFiles lets it complete empty, and the
    # retry's own files deliver the rows exactly once
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        assert drain() == [("a", 2, 2.0, 2)]
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")


def test_version_fence_waits_out_commit_window_no_loss(spark, tmp_path):
    """The fence must NOT drop rows listed in the NORMAL window between
    the insert's data-dir rename and its manifest commit (the rename
    lands first on every insert): the micro-batch waits for the commit
    and then delivers everything. A drop here is permanent loss — the
    file log marks the listed files processed and never re-reads them."""
    import json as _json
    import threading

    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    store.insert("a", [(1, 1.0)])  # v1 commits
    pre = _json.load(open(store.manifest_path))
    store.insert("a", [(2, 2.0)])  # v2: dir renamed AND committed...
    committed = _json.load(open(store.manifest_path))
    _json.dump(pre, open(store.manifest_path, "w"))  # ...rewind to the window

    # the manifest commit lands while the fenced micro-batch is waiting
    t = threading.Timer(
        1.0, lambda: _json.dump(committed, open(store.manifest_path, "w"))
    )
    t.start()
    rows = []
    q = (
        changefeed(
            store,
            version_fence=True,
            fence_grace_sec=0.05,
            fence_max_wait_sec=30.0,
        )
        .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    t.join()
    # BOTH versions' rows arrive — v2 was committed, only its manifest
    # write raced the listing; the r11 filter-fence silently lost it
    assert sorted((r.uuid, r.time, r.value, r.ins_ver) for r in rows) == [
        ("a", 1, 1.0, 1),
        ("a", 2, 2.0, 2),
    ]


def test_fence_batch_driver_side_contract(spark, tmp_path):
    """fence_batch (the cluster-shape fence: driver-side manifest read,
    pure-JVM plan, for use inside foreachBatch): waits out the normal
    commit window, raises PhantomVersionError on a never-committing
    orphan, passes committed batches through untouched."""
    import threading

    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import (
        PhantomVersionError,
        fence_batch,
    )

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("a", [(1, 1.0)])  # committed version = 1
    batch = spark.createDataFrame(
        [("a", 1, 1.0, 1), ("a", 2, 2.0, 2)],
        "uuid string, time long, value double, ins_ver long",
    )
    # orphan: version 2 never commits within the wait -> fail, not drop
    with pytest.raises(PhantomVersionError):
        fence_batch(store, batch, grace_sec=0.05, max_wait_sec=0.5)

    # normal window: the commit lands while the fence waits -> all rows
    t = threading.Timer(0.5, lambda: store.insert("a", [(2, 2.0)]))
    t.start()
    out = fence_batch(store, batch, grace_sec=0.05, max_wait_sec=30.0)
    t.join()
    assert out is batch and out.count() == 2

    # fully-committed batch (and a batch with NULL max) pass straight through
    assert fence_batch(store, batch, max_wait_sec=0.1).count() == 2
    empty = batch.where("ins_ver > 99")
    assert fence_batch(store, empty, max_wait_sec=0.1).count() == 0


def test_deletes_feed_survives_lagging_one_compaction_at_n3(spark, tmp_path):
    """VERDICT r11 #7 — retention parity for the DELETE feed: with
    generations_retained=3 a changefeed_deletes may lag a full compaction
    interval; tombstones folded by a compaction it never drained are
    still on disk (in place, same paths) through the NEXT compaction, so
    the late drain loses nothing. The third compaction ages them out.
    Batch reads meanwhile never re-apply the folded tombstones."""
    import glob as _g
    import os as _os

    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed_deletes

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        rows = []
        q = (
            changefeed_deletes(store)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {(r.uuid, r.start, r.end, r.ver) for r in rows}

    store.insert("a", [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)])  # v1
    store.delete_range("a", 1, 2)  # v2
    assert drain() == {("a", 1, 2, 2)}

    # The feed now LAGS: these deletes are never drained before the
    # compactions that fold them.
    store.delete_range("a", 2, 3)              # v3 -> folded by compact A
    store.compact(generations_retained=3)      # A: v3's tombstone retained
    store.delete_range("a", 3, 4)              # v4 -> folded by compact B
    store.compact(generations_retained=3)      # B: both still retained
    store.delete_range("a", 4, 5)              # v5 -> live tombstone

    # the late drain still delivers every tombstone exactly once
    assert drain() == {("a", 2, 3, 3), ("a", 3, 4, 4), ("a", 4, 5, 5)}
    # and batch reads never re-applied the folded tombstones: only the
    # not-yet-compacted delete (4,5) plus the folded history is excluded
    assert sorted(
        (r.time, r.value) for r in store.points_at().collect()
    ) == []

    # a third compaction ages the oldest folded group out of the ledger
    n_before = len(_g.glob(_os.path.join(store.deletes_path, "*.parquet")))
    store.insert("a", [(9, 9.0)])
    store.compact(generations_retained=3)
    n_after = len(_g.glob(_os.path.join(store.deletes_path, "*.parquet")))
    assert n_after < n_before
    # ...and reclaims the checksum sidecars with their part files: every
    # remaining .crc pairs with a live parquet file (no orphan leak)
    left = set(_os.listdir(store.deletes_path))
    for f in left:
        if f.endswith(".crc"):
            assert f[1:-4] in left, f

def test_default_fence_routes_driver_side_pure_jvm_plan(spark, tmp_path):
    """VERDICT r12 #5: changefeed(version_fence=True) must reach the
    driver-side fence_batch shape — the plan stays the plain pure-JVM
    scan (no pandas_udf / Python eval), the fence survives
    transformations, and a non-foreachBatch sink fails loudly instead of
    silently not fencing."""
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import (
        FencedChangefeed,
        changefeed,
    )

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.insert("a", [(1, 1.0)])
    store.insert("b", [(2, 2.0)])
    feed = changefeed(store, version_fence=True)
    assert isinstance(feed, FencedChangefeed)
    plan = feed._df._jdf.queryExecution().analyzed().toString().lower()
    assert "python" not in plan and "arrow" not in plan

    # transformations keep the fence (and the pure-JVM plan)
    sub = feed.where(F.col("uuid") == "a")
    assert isinstance(sub, FencedChangefeed)

    # a direct sink has no per-batch driver hook -> loud failure
    with pytest.raises(ValueError, match="foreachBatch"):
        feed.writeStream.format("memory").queryName("x").start()

    # the fenced foreachBatch drain delivers the committed rows
    rows = []
    q = (
        sub.writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sorted((r.uuid, r.time, r.value, r.ins_ver) for r in rows) == [
        ("a", 1, 1.0, 1)
    ]


def test_in_scan_fence_variant_still_fails_phantoms(spark, tmp_path):
    """The pandas_udf in-scan fence stays available for single-POSIX-
    volume sinks that cannot use foreachBatch — same wait-then-FAIL
    contract (version_fence='in-scan')."""
    import glob as globmod
    import json as _json

    from pyspark.errors import StreamingQueryException

    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    store = PointStore(spark, str(tmp_path / "s"), num_buckets=4)
    feed = changefeed(
        store,
        version_fence="in-scan",
        fence_grace_sec=0.05,
        fence_max_wait_sec=1.0,
    )
    assert isinstance(feed, type(store.spark.range(1)))  # a plain DataFrame
    store.insert("a", [(1, 1.0)])
    manifest = _json.load(open(store.manifest_path))
    store.insert("a", [(2, 999.0)])  # crash: dir renamed, commit lost
    _json.dump(manifest, open(store.manifest_path, "w"))
    assert globmod.glob(f"{store.path}/points*/ins_ver=2")

    rows = []
    q = (
        feed.writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
        raise AssertionError("in-scan fenced phantom batch must fail")
    assert rows == []


@pytest.mark.parametrize("value", ["", "abc", "0", "-2"])
def test_state_partitions_env_rejects_invalid_value(spark, monkeypatch, value):
    """SPARK_GRAFT_STREAM_STATE_PARTITIONS, once set, must be a positive
    integer: an empty or malformed value fails loudly, naming the variable,
    instead of being ignored."""
    from btrdb_server_spark.streaming import bounded_state_partitions

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", value)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
        with bounded_state_partitions(spark, 16):
            pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_state_partitions_env_overrides_caller(spark, monkeypatch):
    from btrdb_server_spark.streaming import bounded_state_partitions

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "7")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with bounded_state_partitions(spark, 16):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
