"""Stateful streaming stat accumulator (streaming/stateful.py): per-bucket
running stats across micro-batches, with late data folding into old buckets
(ST2 — no watermark, nothing dropped).
"""

from __future__ import annotations

import pytest

from btrdb_server_spark.schemas import POINTS_SCHEMA
from btrdb_server_spark.streaming.stateful import streaming_stat_windows

PW = 4  # 16-ns buckets


def write_batch(spark, path, rows, n=0):
    spark.createDataFrame(rows, POINTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_stat_accumulator_with_late_data(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # Batch 1: bucket 0 (times 1, 2) and bucket 16 (time 17).
    write_batch(spark, src, [("s", 1, 10.0), ("s", 2, 20.0), ("s", 17, 7.0)], 1)

    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_stat_windows(stream, PW)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stat_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r.uuid, r.bucket): (r.vmin, r.vmean, r.vmax, r.cnt)
            for r in spark.sql("SELECT * FROM stat_updates").collect()
        }
        assert first[("s", 0)] == (10.0, 15.0, 20.0, 2)
        assert first[("s", 16)] == (7.0, 7.0, 7.0, 1)

        # Batch 2: a LATE point lands in bucket 0 (time 3) + a new bucket 32.
        write_batch(spark, src, [("s", 3, 30.0), ("s", 33, 1.0)], 2)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stat_updates").collect()
        # update mode appends the re-emission; take the LAST emission per key
        latest = {}
        for r in rows:
            latest[(r.uuid, r.bucket)] = (r.vmin, r.vmean, r.vmax, r.cnt)
        assert latest[("s", 0)] == (10.0, 20.0, 30.0, 3)  # late point folded
        assert latest[("s", 16)] == (7.0, 7.0, 7.0, 1)     # untouched
        assert latest[("s", 32)] == (1.0, 1.0, 1.0, 1)
        # bucket 16 was NOT re-emitted in batch 2 (only touched groups emit)
        emissions_16 = [r for r in rows if r.bucket == 16]
        assert len(emissions_16) == 1
    finally:
        q.stop()


def test_streaming_heavy_hitters_exact_and_eviction(spark, tmp_path):
    """Space-saving sketch: exact while under capacity; at capacity a new
    token evicts the minimum counter and inherits its count as overcount
    (upper-bound semantics). One shard so the eviction is forced
    deterministically."""
    from btrdb_server_spark.streaming.stateful import streaming_heavy_hitters

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def write_tokens(tokens, name):
        spark.createDataFrame(
            [(t,) for t in tokens], "token string"
        ).coalesce(1).write.mode("append").parquet(src)

    # Batch 1 fills capacity=2: a x3, b x1.
    write_tokens(["a", "a", "a", "b"], 1)
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_heavy_hitters(stream, num_shards=1, capacity=2)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.token: (r.cnt, r.overcount)
            for r in spark.sql("SELECT * FROM hh_updates").collect()
        }
        assert first == {"a": (3, 0), "b": (1, 0)}  # exact under capacity

        # Batch 2: c arrives at full capacity -> evicts min (b, cnt 1);
        # c's cnt is an upper bound 1+1 with overcount 1.
        write_tokens(["c", "a"], 2)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hh_updates").collect()
        latest = {}
        for r in rows:  # memory sink appends; last emission per token wins
            latest[r.token] = (r.cnt, r.overcount)
        assert latest["a"] == (4, 0)          # still exact
        assert latest["c"] == (2, 1)          # upper bound, error bound 1
        # lower bound cnt - overcount = 1 >= true count 1
        assert latest["c"][0] - latest["c"][1] == 1
    finally:
        q.stop()


def test_streaming_sessionize_late_point_fuses_sessions(spark, tmp_path):
    """The ST2 hard case: a point arriving a micro-batch later bridges two
    existing sessions into one (interval state merges, counts add)."""
    from btrdb_server_spark.streaming.stateful import streaming_sessionize

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # Batch 1: two sessions at gap=50 — [0..10] and [100..110].
    write_batch(spark, src, [("s", 0, 1.0), ("s", 10, 1.0),
                             ("s", 100, 1.0), ("s", 110, 1.0)], 1)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_sessionize(stream, gap=50)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def snapshot():
        rows = spark.sql("SELECT * FROM sess_updates").collect()
        mx = max(r.seq for r in rows)
        return sorted(
            (r.session_start, r.session_end, r.n_points)
            for r in rows
            if r.seq == mx
        )

    try:
        q.processAllAvailable()
        assert snapshot() == [(0, 10, 2), (100, 110, 2)]

        # Batch 2: late bridge point 55 — within gap of BOTH sessions
        # (spacings 45 < 50; exactly-gap spacing would NOT merge).
        write_batch(spark, src, [("s", 55, 1.0)], 2)
        q.processAllAvailable()
        assert snapshot() == [(0, 110, 5)]

        # Batch 3: a duplicate timestamp and a fresh far session.
        write_batch(spark, src, [("s", 55, 2.0), ("s", 500, 1.0)], 3)
        q.processAllAvailable()
        assert snapshot() == [(0, 110, 6), (500, 500, 1)]
    finally:
        q.stop()


def test_streaming_lsh_incremental_index(spark, tmp_path):
    """A doc arriving micro-batches later pairs against residents already
    in the bucket state (the incremental index property), and the final
    pair set equals the batch LSH pipeline on the same corpus."""
    from btrdb_server_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from btrdb_server_spark.streaming.stateful import streaming_lsh_candidates

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    batch1 = [(0, base), (2, "completely different words about spark engines")]
    batch2 = [(1, base.replace("lazy", "sleepy"))]  # near-dup of doc 0

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    write(batch1)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_lsh_candidates(stream, bands=8)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("lsh_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {(r.a, r.b) for r in spark.sql("SELECT * FROM lsh_updates").collect()}
        write(batch2)
        q.processAllAvailable()
        got = {(r.a, r.b) for r in spark.sql("SELECT * FROM lsh_updates").collect()}
    finally:
        q.stop()
    all_docs = spark.createDataFrame(
        batch1 + batch2, "doc_id long, text string"
    )
    want = {
        (r.a, r.b)
        for r in lsh_candidate_pairs(minhash_signatures(all_docs), bands=8).collect()
    }
    assert got == want and (0, 1) in got   # the late doc paired up
    assert (0, 1) not in first             # ...only after it arrived


def test_streaming_ewma_continues_recurrence_across_batches(spark, tmp_path):
    """Three in-order micro-batches: the keyed state carries the frontier
    and running ewma, so the emitted union equals the batch fold exactly
    (same op order -> bit-equal)."""
    from btrdb_server_spark.streaming.stateful import streaming_ewma

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    vals = [4.0, 8.0, 2.0, 6.0, 10.0, 0.0]
    write_batch(spark, src, [("s", i, vals[i]) for i in (0, 1)], 1)
    write_batch(spark, src, [("s", i, vals[i]) for i in (2, 3)], 2)
    write_batch(spark, src, [("s", i, vals[i]) for i in (4, 5)], 3)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_ewma(stream, alpha=0.25)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.time: r.ewma
        for r in spark.sql("SELECT * FROM ewma_updates").collect()
    }
    s, exp = None, {}
    for i, v in enumerate(vals):
        s = v if s is None else 0.25 * v + 0.75 * s
        exp[i] = s
    assert got == exp  # bit-equal, not approx


def test_streaming_deadband_matches_batch_fold(spark, tmp_path):
    from btrdb_server_spark.operators.derive import deadband_compress
    from btrdb_server_spark.streaming.stateful import streaming_deadband

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    vals = [0.0, 0.1, 0.6, 0.55, 1.2, 1.1, 0.2]
    write_batch(spark, src, [("s", i, vals[i]) for i in (0, 1, 2)], 1)
    write_batch(spark, src, [("s", i, vals[i]) for i in (3, 4)], 2)
    write_batch(spark, src, [("s", i, vals[i]) for i in (5, 6)], 3)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_deadband(stream, deadband=0.3)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("deadband_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.time, r.value)
        for r in spark.sql("SELECT * FROM deadband_updates").collect()
    )
    batch = deadband_compress(
        spark.createDataFrame([("s", i, v) for i, v in enumerate(vals)], POINTS_SCHEMA),
        "s", 0, 100, deadband=0.3,
    ).collect()
    assert got == [(r.time, r.value) for r in batch]  # bit-equal kept set


def test_streaming_sdt_matches_batch_fold_minus_final(spark, tmp_path):
    from btrdb_server_spark.operators.derive import sdt_compress
    from btrdb_server_spark.streaming.stateful import streaming_sdt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # Line, spike, line — door must close mid-sequence; batch boundaries
    # split the fold to exercise the cross-batch state continuation.
    pts = [(0, 0.0), (10, 1.0), (20, 2.0), (30, 7.0), (40, 4.0), (50, 5.0)]
    write_batch(spark, src, [("s", t, v) for t, v in pts[:2]], 1)
    write_batch(spark, src, [("s", t, v) for t, v in pts[2:4]], 2)
    write_batch(spark, src, [("s", t, v) for t, v in pts[4:]], 3)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_sdt(stream, tolerance=0.5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sdt_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.time, r.value) for r in spark.sql("SELECT * FROM sdt_updates").collect()
    )
    batch = [
        (r.time, r.value)
        for r in sdt_compress(
            spark.createDataFrame([("s", t, v) for t, v in pts], POINTS_SCHEMA),
            "s", 0, 100, tolerance=0.5,
        ).collect()
    ]
    # streaming emits the batch kept set minus the trailing final point
    assert batch[-1][0] == pts[-1][0]
    assert got == batch[:-1]


def test_streaming_crossings_matches_batch(spark, tmp_path):
    from btrdb_server_spark.operators.derive import threshold_crossings
    from btrdb_server_spark.streaming.stateful import streaming_crossings

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    pts = [(1, 5.0), (2, 12.0), (3, 15.0), (4, 8.0), (5, 20.0)]
    write_batch(spark, src, [("s", t, v) for t, v in pts[:2]], 1)
    write_batch(spark, src, [("s", t, v) for t, v in pts[2:4]], 2)
    write_batch(spark, src, [("s", t, v) for t, v in pts[4:]], 3)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_crossings(stream, threshold=10.0)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cross_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.time, r.prev_time, r.direction)
        for r in spark.sql("SELECT * FROM cross_updates").collect()
    )
    batch = threshold_crossings(
        spark.createDataFrame([("s", t, v) for t, v in pts], POINTS_SCHEMA),
        "s", 0, 100, 10.0,
    ).collect()
    assert got == [(r.time, r.prev_time, r.direction) for r in batch]
    assert got == [(2, 1, "up"), (4, 3, "down"), (5, 4, "up")]


EVENTS_SCHEMA = "event_id long, time long, user_id long, event_type string"


def test_streaming_attribution_matches_batch(spark, tmp_path):
    from btrdb_server_spark.operators.events import attribution_last_touch
    from btrdb_server_spark.streaming.stateful import streaming_attribution

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        # u1: click@10, view@20 + purchase@20 (equal-time touch NOT
        # credited), purchase@30 (credits view@20).
        (1, 10, 1, "click"), (2, 20, 1, "view"), (3, 20, 1, "purchase"),
        (4, 30, 1, "purchase"),
        # u2: purchase@5 unattributed; click@40; purchase@200 outside
        # within=50 -> unattributed.
        (5, 5, 2, "purchase"), (6, 40, 2, "click"), (7, 200, 2, "purchase"),
    ]
    # Split across batches mid-user to exercise state continuation.
    def wb(rs):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    wb([r for r in rows if r[1] <= 20])
    wb([r for r in rows if 20 < r[1] <= 40])
    wb([r for r in rows if r[1] > 40])
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_attribution(stream, within=50)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("attr_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.event_id, r.touch_event_id, r.latency)
        for r in spark.sql("SELECT * FROM attr_updates").collect()
    )
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    batch = attribution_last_touch(ev, within=50).collect()
    assert got == [(r.event_id, r.touch_event_id, r.latency) for r in batch]
    assert got == [(3, 1, 10), (4, 2, 10), (5, None, None), (7, None, None)]


def test_streaming_holt_continues_two_state_recurrence(spark, tmp_path):
    """Three in-order micro-batches: keyed state carries (frontier, level,
    trend) so the emitted union equals the batch Holt fold bit-for-bit —
    including the duplicated level' subexpression in the trend update."""
    from btrdb_server_spark.streaming.stateful import streaming_holt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    vals = [4.0, 8.0, 2.0, 6.0, 10.0, 0.0]
    write_batch(spark, src, [("s", i, vals[i]) for i in (0, 1)], 1)
    write_batch(spark, src, [("s", i, vals[i]) for i in (2, 3)], 2)
    write_batch(spark, src, [("s", i, vals[i]) for i in (4, 5)], 3)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_holt(stream, alpha=0.25, beta=0.125)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("holt_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.time: (r.level, r.trend)
        for r in spark.sql("SELECT * FROM holt_updates").collect()
    }
    lvl, tr, exp = None, None, {}
    for i, v in enumerate(vals):
        if lvl is None:
            lvl, tr = v, 0.0
        else:
            lp = 0.25 * v + 0.75 * (lvl + tr)
            tr = 0.125 * (lp - lvl) + 0.875 * tr
            lvl = lp
        exp[i] = (lvl, tr)
    assert got == exp  # bit-equal, not approx


def test_streaming_twa_closes_windows_once(spark, tmp_path):
    """Windows emit exactly once, when the held segment crosses their end;
    the union equals the batch step-hold TWA on closed windows."""
    from btrdb_server_spark.streaming.stateful import streaming_twa

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    width = 100
    # points at t=0,30,120,250 value held stepwise; windows [0,100),[100,200)
    write_batch(spark, src, [("s", 0, 2.0), ("s", 30, 4.0)], 1)
    write_batch(spark, src, [("s", 120, 6.0)], 2)
    write_batch(spark, src, [("s", 250, 8.0)], 3)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_twa(stream, 0, width)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("twa_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.time: (r.covered_ns, r.twa)
        for r in spark.sql("SELECT * FROM twa_updates").collect()
    }
    # window 0: [0,30)@2 + [30,100)@4 -> (100, (30*200+70*400)/100/100)
    # window 1: [100,120)@4 + [120,200)@6 -> (100, (20*400+80*600)/100/100)
    # window 2 still open (frontier 250) -> not emitted
    exp = {
        0: (100, (30 * 200 + 70 * 400) / 100 / 100.0),
        100: (100, (20 * 400 + 80 * 600) / 100 / 100.0),
    }
    assert got == exp


def test_streaming_quantile_closes_windows_once(spark, tmp_path):
    """Per-(stream, window) exact p50/p90/p99 emit exactly once when the
    first point beyond the window arrives, regardless of how arrivals are
    split into micro-batches; the frontier window stays open."""
    from btrdb_server_spark.streaming.stateful import streaming_quantile

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    width = 100
    # window 0: values 1..4 (split across two batches); window 1: 10,20;
    # window 2 opens at t=250 and must NOT emit.
    write_batch(spark, src, [("s", 0, 1.0), ("s", 10, 2.0)], 1)
    write_batch(spark, src, [("s", 20, 3.0), ("s", 30, 4.0)], 2)
    write_batch(spark, src, [("s", 120, 10.0), ("s", 130, 20.0)], 3)
    write_batch(spark, src, [("s", 250, 99.0)], 4)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_quantile(stream, 0, width)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("quantile_updates")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.time: (r.n, r.p50, r.p90, r.p99)
        for r in spark.sql("SELECT * FROM quantile_updates").collect()
    }
    # n=4: k50=ceil(2)=2 -> 2.0; k90=ceil(3.6)=4 -> 4.0; k99=4 -> 4.0
    # n=2: k50=1 -> 10.0; k90=ceil(1.8)=2 -> 20.0; k99=2 -> 20.0
    assert got == {
        0: (4, 2.0, 4.0, 4.0),
        100: (2, 10.0, 20.0, 20.0),
    }


def test_streaming_quantile_rejects_out_of_order(spark, tmp_path):
    """A point behind the open window is a contract violation (the op is
    order-defined, like the other streaming recurrences)."""
    from btrdb_server_spark.streaming.stateful import streaming_quantile

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    write_batch(spark, src, [("s", 150, 1.0)], 1)
    write_batch(spark, src, [("s", 10, 2.0)], 2)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_quantile(stream, 0, 100)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("quantile_ooo")
        .option("checkpointLocation", ckpt)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="behind the open window"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


# The eight order-defined twins, each with parameters that make it emit on
# CHUNK_ROWS below (windows of 20 ns, thresholds inside the value range).
ORDER_DEFINED_TWINS = {
    "ewma": lambda st, s: st.streaming_ewma(s, alpha=0.25),
    "deadband": lambda st, s: st.streaming_deadband(s, deadband=2.0),
    "sdt": lambda st, s: st.streaming_sdt(s, tolerance=0.5),
    "crossings": lambda st, s: st.streaming_crossings(s, threshold=4.0),
    "holt": lambda st, s: st.streaming_holt(s),
    "twa": lambda st, s: st.streaming_twa(s, 0, 20),
    "quantile": lambda st, s: st.streaming_quantile(s, 0, 20),
    "coverage": lambda st, s: st.streaming_coverage(s, 0, 20, 10),
}
# One stream, out of time order, with a duplicate timestamp (50) whose two
# rows land in different Arrow chunks at two records per chunk.
CHUNK_ROWS = [(40, 5.0), (50, 1.0), (60, 7.0), (10, 2.0), (20, 9.0), (30, 3.0), (50, 4.0)]


@pytest.mark.parametrize("twin", sorted(ORDER_DEFINED_TWINS))
def test_twin_sorts_the_whole_group_not_each_arrow_chunk(spark, tmp_path, twin):
    """A micro-batch group may reach the state function as several Arrow
    chunks (spark.sql.execution.arrow.maxRecordsPerBatch). One micro-batch
    holding a stream's rows out of time order must emit what the same rows
    in order emit: the runner sorts the whole group once, so no chunk
    boundary can put a later chunk behind an earlier one's frontier."""
    from btrdb_server_spark.streaming import stateful

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        emitted = {}
        for tag, rows in (("shuffled", CHUNK_ROWS), ("ordered", sorted(CHUNK_ROWS))):
            src = str(tmp_path / tag / "src")
            write_batch(spark, src, [("s", t, v) for t, v in rows])
            stream = spark.readStream.schema(POINTS_SCHEMA).parquet(src)
            name = f"chunked_{twin}_{tag}"
            q = (
                ORDER_DEFINED_TWINS[twin](stateful, stream)
                .writeStream.outputMode("update")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", str(tmp_path / tag / "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            emitted[tag] = sorted(
                tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
            )
    finally:
        spark.conf.set(key, old)
    assert emitted["ordered"]
    assert emitted["shuffled"] == emitted["ordered"]
