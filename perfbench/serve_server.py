"""System under test for the `serve` workload: the BTrDB facade behind
BTrDBHttpServer, in its own process.

    python3 perfbench/serve_server.py --root DIR --seed N --points N [--trace]

Builds the seeded store (compacted base, 8 fresh versions, 3 tombstones,
rollup ladder), starts the server, prints one `READY <json>` line and
serves until a line arrives on stdin. Then it writes its side of the
results to DIR/server.json, prints `DONE`, and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    SparkCounters,
    anchor_s,
    dir_bytes,
    parquet_files,
    prepare_env,
    spark_session,
    stop_spark,
    write_json,
)

LADDER_LEVELS = [36, 42]


def install_spans(tracer, spark) -> dict:
    """Spans around the public entry points of each layer the read path
    crosses. Returns the op-id -> client send time map the dispatch
    wrapper fills."""
    from btrdb_server_spark import api, metadata, server, store
    from btrdb_server_spark.plans import rollup

    sent: dict = {}
    sc = spark.sparkContext
    dispatch = server.BTrDBHttpServer._dispatch

    def traced_dispatch(self, h):
        op = h.headers.get("X-Bench-Op")
        if op is not None:
            sent[op] = float(h.headers.get("X-Bench-Sent"))
            tracer.set_op(op)
            sc.setJobGroup(f"bench-op-{op}", "bench")
        with tracer.span("server.dispatch"):
            dispatch(self, h)

    server.BTrDBHttpServer._dispatch = traced_dispatch
    for m in ("RawValues", "ArrowRawValues", "AlignedWindows", "Windows",
              "Nearest", "Changes", "StreamInfo", "LookupStreams"):
        tracer.wrap(server.BTrDBHttpServer, f"rpc_{m}", f"server.rpc_{m}")
    for m in ("raw_values", "aligned_windows", "windows", "nearest", "changes",
              "stream_info", "lookup_streams"):
        tracer.wrap(api.BTrDB, m, f"api.{m}")
    for m in ("raw_values_op", "aw_op", "windows_op", "nearest_op"):
        tracer.wrap(api, m, f"operators.{m}")
    for m in ("stream_info", "lookup_streams"):
        tracer.wrap(metadata.StreamRegistry, m, f"metadata.{m}")
    for m in ("points_at", "stream_points", "changes", "insert_many", "compact",
              "delete_range"):
        tracer.wrap(store.PointStore, m, f"store.{m}")
    for m in ("serve_aligned", "serve_windows", "rebuild"):
        tracer.wrap(rollup.RollupLadder, m, f"rollup.{m}")
    return sent


def build(spark, root: str, data):
    """The fixed store state every serve run reads."""
    import pandas as pd

    from btrdb_server_spark.api import BTrDB

    db = BTrDB(spark, root, rollup_levels=LADDER_LEVELS, rollup_quantum=0.01)
    db.store.insert_many(spark.createDataFrame(data.frame(0, data.n_base)))  # v1
    db.store.compact()
    for j in range(8):  # v2..v9, the uncompacted fresh tail
        lo = data.n_base + j * data.fresh
        db.store.insert_many(spark.createDataFrame(data.frame(lo, lo + data.fresh)))
    for k, lo, hi in data.deletes:  # v10..v12
        db.store.delete_range(data.uuids[k], *data.time_range(lo, hi))
    db.ladder.rebuild(db.store.points_at())
    streams = pd.DataFrame(
        {
            "uuid": data.uuids,
            "collection": [data.collection(k) for k in range(data.n_streams)],
            "tags": [{"name": f"s{k}", "unit": "V"} for k in range(data.n_streams)],
        }
    )
    db.registry.create_many(
        spark.createDataFrame(
            streams, "uuid string, collection string, tags map<string,string>"
        )
    )
    if db.store.version != 12:
        raise RuntimeError(f"store built to version {db.store.version}, expected 12")
    return db


def span_summary(tracer, sent: dict) -> dict:
    """Per-layer numbers over the measured RPCs (warm-up and set-up spans
    carry no op id from the client)."""
    from perfbench.trace import mean_ms

    spans = [s for s in tracer.spans if s["op"] in sent]

    def ms(prefix):
        return [1000.0 * (s["end"] - s["start"]) for s in spans if s["name"].startswith(prefix)]

    api_start: dict = {}
    for s in spans:
        if s["name"].startswith("api."):
            api_start[s["op"]] = min(api_start.get(s["op"], s["start"]), s["start"])
    queue = [1000.0 * (t - sent[o]) for o, t in api_start.items()]
    n_aw = len(ms("api.aligned_windows")) + len(ms("api.windows"))
    served = len(ms("rollup.serve_aligned")) + len(ms("rollup.serve_windows"))
    return {
        "server.queue_ms": mean_ms(queue),
        "server.first_page_ms": mean_ms(ms("spark.first_page")),
        "server.drain_ms": mean_ms(ms("spark.drain")),
        "api.call_ms": mean_ms(ms("api.")),
        "api.ladder_share": served / n_aw if n_aw else 0.0,
        "metadata.call_ms": mean_ms(ms("metadata.")),
        "operators.call_ms": mean_ms(ms("operators.")),
        "store.points_at_ms": mean_ms(ms("store.points_at")),
        "rollup.serve_ms": mean_ms(ms("rollup.serve_")),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--points", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    prepare_env(args.root)
    from perfbench.gen import ServeData
    from perfbench.trace import Tracer

    spark = spark_session("bench-serve")
    tracer = Tracer() if args.trace else None
    sent = install_spans(tracer, spark) if tracer else {}
    data = ServeData(args.seed, n=args.points)
    db_root = os.path.join(args.root, "db")
    t0 = time.time()
    db = build(spark, db_root, data)
    build_s = time.time() - t0

    from btrdb_server_spark.server import BTrDBHttpServer

    srv = BTrDBHttpServer(db).start()
    print("READY " + json.dumps({"address": srv.address, "version": db.store.version}), flush=True)
    sys.stdin.readline()
    srv.stop()

    out = {
        "build_s": build_s,
        "anchor_s": anchor_s(spark),
        "store_bytes": dir_bytes(os.path.join(db_root, "data")),
        "ladder_bytes": dir_bytes(os.path.join(db_root, "rollups")),
        "store_files": parquet_files(os.path.join(db_root, "data")),
        "fresh_versions": db.store.version - db.store.compacted_through,
    }
    if tracer is not None:
        out["spans"] = span_summary(tracer, sent)
        out["rebuild_s"] = sum(s["end"] - s["start"] for s in tracer.by_name("rollup.rebuild"))
        out["layer_self_s"] = tracer.layer_self_seconds(lambda s: s["op"] in sent)
        counters = SparkCounters(spark)
        per_op = {}
        for op in sent:
            c = counters.collect(counters.jobs_for_group(f"bench-op-{op}"))
            # The op's window starts once it holds the server lock.
            rpc = [s for s in tracer.by_name("server.rpc_") if s["op"] == op]
            ds = [s for s in tracer.by_name("server.dispatch") if s["op"] == op]
            if rpc and ds:
                c["t0"], c["t1"] = rpc[0]["start"], ds[0]["end"]
                per_op[op] = c
        out["spark_per_op"] = per_op
        tracer.dump(os.path.join(args.root, "spans.json"))
    write_json(os.path.join(args.root, "server.json"), out)
    print("DONE", flush=True)
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
