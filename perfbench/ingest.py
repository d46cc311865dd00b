"""`ingest` workload: one writer feeding IngestPipeline (with a one-level
rollup ladder) from a parquet file source, in this process.

The load is blocks of 5 slices; each op drops the next seeded slice into
the source directory and calls flush(), timed from the file appearing to
flush() returning. Every block is the same mix: one late slice (it
overlaps time already ingested), one compaction (compact_every=6: five
slice versions plus the delete's) and, after the block, a range delete
through the facade while the pipeline is idle, so the store keeps a
single writer. Set-up loads slices 0-3 as store history (one insert, a
ladder rebuild and a compaction), starts the pipeline and, as warm-up,
streams slices 4-5, compacts and makes one range delete. Then whole
blocks run until --seconds have passed (at least one); they are alike,
so the rates do not depend on how many fit. Bytes on disk are taken
after the first measured block, the same point in every run.

After the run the visible point count must equal generated minus deleted
points, and the coarsest ladder level's count total must equal it too.
"""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pandas as pd

from perfbench.common import (
    OUT,
    SparkCounters,
    TreeSampler,
    anchor_s,
    dir_bytes,
    latency_summary,
    log,
    nproc,
    parquet_files,
    prepare_env,
    spark_layer_metrics,
    spark_session,
    stop_spark,
)
from perfbench.gen import IngestData

# One level: with two, a slice took ~2.7 s and a run held five of them.
LADDER_LEVELS = [36]
HISTORY_SLICES = 4
WARM_SLICES = 2
BLOCK = 5  # slices per block; slice j is late when j % 5 == 4
# Five slice versions plus the delete's: every block starts with one fresh
# version (the delete after set-up's last compaction, then the previous
# block's delete), so the fifth slice of every block compacts.
COMPACT_EVERY = BLOCK + 1


def install_spans(tracer) -> None:
    from btrdb_server_spark import api, store
    from btrdb_server_spark.plans import rollup

    for m in ("insert_many", "compact", "delete_range", "points_at"):
        tracer.wrap(store.PointStore, m, f"store.{m}")
    for m in ("update_with_batch", "recompute_range", "rebuild"):
        tracer.wrap(rollup.RollupLadder, m, f"rollup.{m}")
    tracer.wrap(api.BTrDB, "delete", "api.delete")


class Ledger:
    """What the store must hold: every ingested slice's times, per stream,
    minus the ranges deleted after it."""

    def __init__(self, data: IngestData):
        self.data = data
        self.slices: list = []  # (slice index, times)
        self.deletes: list = []  # (stream, start, end, slices ingested before)

    def visible(self) -> int:
        per_stream = sum(len(t) for _j, t in self.slices)
        total = per_stream * self.data.n_streams
        for k in {d[0] for d in self.deletes}:
            t = np.concatenate([t for _j, t in self.slices])
            j = np.concatenate([np.full(len(t), j) for j, t in self.slices])
            gone = np.zeros(len(t), bool)
            for dk, s, e, before in self.deletes:
                if dk == k:
                    gone |= (t >= s) & (t < e) & (j < before)
            total -= int(gone.sum())
        return total


def run(seed: int, seconds: float, trace: bool, per_stream: int = 500) -> dict:
    os.makedirs(OUT, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"ingest-{seed}-", dir=OUT)
    prepare_env(workdir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    t_setup = time.perf_counter()
    spark = spark_session("bench-ingest")
    from perfbench.trace import StreamingPhases, Tracer, mean_ms

    tracer = Tracer() if trace else None
    if tracer:
        install_spans(tracer)
    phases = StreamingPhases(spark) if trace else None
    sampler = TreeSampler(os.getpid()).start()

    from btrdb_server_spark.api import BTrDB
    from btrdb_server_spark.streaming.ingest import IngestPipeline

    data = IngestData(seed, per_stream=per_stream)
    ledger = Ledger(data)
    db = BTrDB(spark, os.path.join(workdir, "db"), rollup_levels=LADDER_LEVELS,
               rollup_quantum=0.01)
    history = pd.concat([data.frame(j) for j in range(HISTORY_SLICES)], ignore_index=True)
    db.store.insert_many(spark.createDataFrame(history))
    ledger.slices.extend((j, data.slice_times(j)) for j in range(HISTORY_SLICES))
    db.ladder.rebuild(db.store.points_at())
    db.store.compact()

    src = os.path.join(workdir, "source")
    stage = os.path.join(workdir, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    pipe = IngestPipeline(db.store, db.ladder, compact_every=COMPACT_EVERY)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pipe.start(stream, os.path.join(workdir, "checkpoint"))

    errors: list = []
    attempted = 0

    def flush(j: int) -> int:
        if tracer is None:
            return pipe.flush()
        # The micro-batch runs on the streaming thread: its spans get this
        # op's id and root span through the tracer's process-wide slots.
        tracer.global_op = f"slice{j}"
        with tracer.span("streaming.flush") as sid:
            tracer.global_parent = sid
            try:
                return pipe.flush()
            finally:
                tracer.global_parent = tracer.global_op = None

    def commit_slice(j: int) -> float:
        """Drop slice j into the source and flush; returns seconds."""
        staged = os.path.join(stage, f"slice-{j:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(data.frame(j), preserve_index=False), staged)
        before = db.store.version
        t0 = time.perf_counter()
        os.replace(staged, os.path.join(src, os.path.basename(staged)))
        v = flush(j)
        dt = time.perf_counter() - t0
        ledger.slices.append((j, data.slice_times(j)))
        if v != before + 1:
            errors.append(f"slice {j}: version {before} -> {v}")
        return dt

    def delete_after(j: int) -> float:
        """Range delete through the facade after slice j; returns seconds."""
        k, s, e = data.delete_range(j)
        before = db.store.version
        t0 = time.perf_counter()
        db.delete(data.uuids[k], s, e)
        dt = time.perf_counter() - t0
        ledger.deletes.append((k, s, e, j + 1))
        if db.store.version != before + 1:
            errors.append(f"delete after slice {j}: version {before} -> {db.store.version}")
        return dt

    j = HISTORY_SLICES

    def block(ops: list, deletes: list) -> float:
        """Five slices, then a range delete; returns the block's seconds."""
        nonlocal j, attempted
        b0 = time.perf_counter()
        for _ in range(BLOCK):
            attempted += 1
            a = time.time()
            try:
                dt = commit_slice(j)
                ops.append((j, dt, a, time.time()))
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                errors.append(f"slice {j}: {e!r}")
            j += 1
        attempted += 1
        try:
            deletes.append(delete_after(j - 1))
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            errors.append(f"delete after slice {j - 1}: {e!r}")
        return time.perf_counter() - b0

    # Warm-up: slices, an incremental compaction and a delete, which leaves
    # the one fresh version every block starts with.
    for _ in range(WARM_SLICES):
        attempted += 1
        commit_slice(j)
        j += 1
    db.store.compact()
    attempted += 1
    delete_after(j - 1)
    setup_s = time.perf_counter() - t_setup

    counters = SparkCounters(spark)
    ops: list = []  # (slice, seconds, epoch t0, epoch t1)
    deletes: list = []  # seconds
    state: dict = {}
    cpu0, e0 = sampler.cpu_seconds(), time.time()
    wall = 0.0
    while not state or wall < seconds:
        wall += block(ops, deletes)
        if not state:
            # Bytes on disk after the first block: the same point in every
            # run, however many blocks the host's speed allows.
            state = {
                "live": ledger.visible(),
                "store_b": dir_bytes(db.store.path),
                "ladder_b": dir_bytes(db.ladder.path),
                "files": parquet_files(db.store.path),
                "fresh": db.store.version - db.store.compacted_through,
            }
    cpu_s = sampler.cpu_seconds() - cpu0
    e1 = time.time()

    pipe.stop()
    from pyspark.sql import functions as F

    want = ledger.visible()
    got = db.store.points_at().count()
    if got != want:
        errors.append(f"visible points {got} != {want}")
    coarse = db.ladder.level(max(LADDER_LEVELS)).agg(F.sum("cnt")).first()[0]
    if coarse != want:
        errors.append(f"coarsest ladder count {coarse} != {want}")
    sampler.stop()

    lat = latency_summary([1000.0 * dt for _j, dt, _a, _b in ops])
    points_committed = len(ops) * per_stream * data.n_streams
    store_b, ladder_b = state["store_b"], state["ladder_b"]
    live_bytes = 16.0 * max(1, state["live"])
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / wall,
        "points_per_s": points_committed / wall,
        "op_p50_ms": lat["p50_ms"],
        "op_tail_ms": lat["tail_ms"],
        "bytes_per_user_byte": (store_b + ladder_b) / live_bytes,
    }
    layers = {
        "peak_rss_mb": sampler.peak_kb / 1024.0,
        "store.files": float(state["files"]),
        "store.fresh_versions": float(state["fresh"]),
        "store.bytes_per_user_byte": store_b / live_bytes,
        "rollup.bytes_per_user_byte": ladder_b / live_bytes,
        "proc.cpu_util": cpu_s / (wall * nproc()),
    }
    self_s = {}
    if trace:
        time.sleep(0.5)  # listener events arrive asynchronously

        def in_window(prefix):
            return [1000.0 * (s["end"] - s["start"]) for s in tracer.by_name(prefix)
                    if e0 <= s["start"] <= e1]

        layers.update(phases.metrics(since=e0))
        phases.close()
        upd = in_window("rollup.update_with_batch")
        trig = sum(ev["triggerExecution"] for ev in phases.events if ev["t"] >= e0)
        layers.update({
            "api.call_ms": mean_ms(in_window("api.")),
            "store.insert_many_ms": mean_ms(in_window("store.insert_many")),
            "store.compact_ms": mean_ms(in_window("store.compact")),
            "store.compact_count": float(len(in_window("store.compact"))),
            "store.delete_ms": mean_ms(in_window("store.delete_range")),
            "store.points_at_ms": mean_ms(in_window("store.points_at")),
            "rollup.update_ms": mean_ms(upd),
            "rollup.update_share": sum(upd) / trig if trig else 0.0,
            "rollup.recompute_ms": mean_ms(in_window("rollup.recompute_range")),
            "rollup.rebuild_s": sum(tracer.durations_ms("rollup.rebuild")) / 1000.0,
        })
        per_op = []
        submits = counters.submit_times()
        for _j, _dt, a, b in ops:
            c = counters.collect(counters.in_window(submits, a, b))
            c["t0"], c["t1"] = a, b
            per_op.append(c)
        layers.update(spark_layer_metrics(per_op, points_committed))
        self_s = tracer.layer_self_seconds(lambda s: e0 <= s["start"] <= e1)
        tracer.dump(os.path.join(workdir, "spans.json"))
    anchor = anchor_s(spark)
    stop_spark(spark)
    log(f"ingest: {len(ops)} slices in {wall:.1f}s, setup {setup_s:.1f}s, visible {want}")
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": max(1, attempted),
        "failed": min(max(1, attempted), len(errors)),
        "errors": errors[:20],
        "latency": lat,
        "anchor_s": anchor,
        "layer_self_s": self_s,
        "detail": {"slices": [(j, dt) for j, dt, _a, _b in ops], "deletes": deletes},
        "workdir": workdir,
    }
