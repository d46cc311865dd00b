"""Wire-protocol tests: drive every btrdb.proto RPC over JSON/HTTP with a
stdlib urllib client — no package import on the client side of the wire.

Mirrors the reference's gRPC surface (grpcinterface/serve.go:63-1011):
unary RPCs answer one proto-shaped JSON object; streaming RPCs answer
ndjson pages with batched values; errors come back as bte-coded stat
payloads, not HTTP failures.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from btrdb_server_spark.api import BTrDB
from btrdb_server_spark.constants import (
    ERR_ANN_VERSION_MISMATCH,
    ERR_INVALID_POINT_WIDTH,
    ERR_NO_SUCH_POINT,
)
from btrdb_server_spark.server import BTrDBHttpServer


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    db = BTrDB(
        spark,
        str(tmp_path_factory.mktemp("wire")),
        buffer_commit_threshold=1 << 30,  # keep writes buffered: minor versions
    )
    s = BTrDBHttpServer(db).start()
    yield s
    s.stop()


def call(srv, method: str, body: dict):
    req = urllib.request.Request(
        f"{srv.address}/v5/{method}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        ctype = r.headers.get("Content-Type", "")
        raw = r.read().decode()
    if "ndjson" in ctype:
        return [json.loads(line) for line in raw.splitlines() if line]
    return json.loads(raw)


def test_wire_create_insert_read_cycle(srv):
    assert call(srv, "Create", {
        "uuid": "w1", "collection": "wire/a",
        "tags": [{"key": "kind", "value": "sensor"}],
        "annotations": [{"key": "note", "value": "hello"}],
    })["stat"]["code"] == 0

    ins = call(srv, "Insert", {
        "uuid": "w1", "sync": False,
        "values": [{"time": 100 + i, "value": float(i)} for i in range(64)],
    })
    assert ins["stat"]["code"] == 0
    # unflushed points live in the buffer: minor version counts them
    assert (ins["versionMajor"], ins["versionMinor"]) == (0, 64)

    pages = call(srv, "RawValues", {"uuid": "w1", "start": 0, "end": 10_000})
    vals = [v for p in pages for v in p["values"]]
    assert [v["time"] for v in vals] == list(range(100, 164))
    assert all(p["stat"]["code"] == 0 for p in pages)

    fl = call(srv, "Flush", {"uuid": "w1"})
    assert (fl["versionMajor"], fl["versionMinor"]) == (1, 0)


def test_wire_stat_and_nearest(srv):
    pages = call(srv, "AlignedWindows", {
        "uuid": "w1", "start": 0, "end": 1 << 12, "pointWidth": 5,
    })
    vals = [v for p in pages for v in p["values"]]
    assert sum(v["count"] for v in vals) == 64
    assert all(v["min"] <= v["mean"] <= v["max"] for v in vals)

    w = call(srv, "Windows", {
        "uuid": "w1", "start": 100, "end": 164, "width": 32, "depth": 0,
    })
    assert sum(v["count"] for p in w for v in p["values"]) == 64

    # A2 count=0 holes stream cleanly: null stats are OMITTED (proto3
    # JSON absent-equals-default), count present and zero.
    wh = call(srv, "Windows", {
        "uuid": "w1", "start": 100, "end": 228, "width": 32, "depth": 0,
    })
    vals = [v for p in wh for v in p["values"]]
    assert [v["count"] for v in vals] == [32, 32, 0, 0]
    holes = [v for v in vals if v["count"] == 0]
    assert all("min" not in v and "mean" not in v for v in holes)
    assert all(v["time"] in (100, 132, 164, 196) for v in vals)

    near = call(srv, "Nearest", {"uuid": "w1", "time": 150, "backward": True})
    assert near["value"] == {"time": 149, "value": 49.0}
    miss = call(srv, "Nearest", {"uuid": "w1", "time": 50, "backward": True})
    assert miss["stat"]["code"] == ERR_NO_SUCH_POINT


def test_wire_metadata_plane(srv):
    call(srv, "Create", {"uuid": "w2", "collection": "wire/b",
                         "tags": [{"key": "kind", "value": "actuator"}]})
    cols = call(srv, "ListCollections", {"prefix": "wire/"})
    assert cols["collections"] == ["wire/a", "wire/b"]

    found = call(srv, "LookupStreams", {
        "collection": "wire/", "isCollectionPrefix": True,
        "tags": [{"key": "kind", "val": {"value": "sensor"}}],
    })
    descs = [d for p in found for d in p["results"]]
    assert [d["uuid"] for d in descs] == ["w1"]
    assert descs[0]["tags"] == [{"key": "kind", "value": "sensor"}]

    info = call(srv, "StreamInfo", {"uuid": "w1"})
    assert info["descriptor"]["collection"] == "wire/a"
    assert info["descriptor"]["annotationVersion"] == 1

    # CAS annotation write: wrong expected version is a coded error
    bad = call(srv, "SetStreamAnnotations", {
        "uuid": "w1", "expectedAnnotationVersion": 99,
        "annotations": [{"key": "note", "val": {"value": "v2"}}],
    })
    assert bad["stat"]["code"] == ERR_ANN_VERSION_MISMATCH
    ok = call(srv, "SetStreamAnnotations", {
        "uuid": "w1", "expectedAnnotationVersion": 1,
        "annotations": [{"key": "note", "val": {"value": "v2"}}],
    })
    assert ok["stat"]["code"] == 0

    usage = call(srv, "GetMetadataUsage", {"prefix": "wire/"})
    assert {"key": "kind", "count": 2} in usage["tags"]


def test_wire_delete_changes_csv_info(srv):
    call(srv, "Insert", {"uuid": "w2", "sync": True,
                         "values": [{"time": t, "value": 1.0} for t in (5, 6, 7)]})
    d = call(srv, "Delete", {"uuid": "w2", "start": 6, "end": 7})
    assert d["stat"]["code"] == 0
    left = call(srv, "RawValues", {"uuid": "w2", "start": 0, "end": 100})
    assert [v["time"] for p in left for v in p["values"]] == [5, 7]

    ch = call(srv, "Changes", {"uuid": "w2", "fromMajor": 0,
                               "toMajor": d["versionMajor"], "resolution": 0})
    ranges = [r for p in ch for r in p["ranges"]]
    assert ranges and all(r["end"] > r["start"] for r in ranges)

    csv = call(srv, "GenerateCSV", {"uuids": ["w1", "w2"],
                                    "start": 0, "end": 10_000})
    assert csv[0]["isHeader"] and csv[0]["row"][0] == "time"
    body = [m["row"] for m in csv[1:]]
    assert len(body) == 66  # 64 w1 points + (5, 7) from w2

    info = call(srv, "Info", {})
    assert info["build"] == "btrdb_server_spark"

    fi = call(srv, "FaultInject", {"type": 1})
    assert fi["stat"]["code"] != 0  # disabled unless enabled at boot


def test_wire_errors_are_coded_payloads(srv):
    bad_pw = call(srv, "AlignedWindows", {
        "uuid": "w1", "start": 0, "end": 100, "pointWidth": 99,
    })
    # streaming RPC that fails at plan time still answers a coded payload
    first = bad_pw[0] if isinstance(bad_pw, list) else bad_pw
    assert first["stat"]["code"] == ERR_INVALID_POINT_WIDTH

    ob = call(srv, "Obliterate", {"uuid": "w2"})
    assert ob["stat"]["code"] == 0
    gone = call(srv, "LookupStreams", {"collection": "wire/b",
                                       "isCollectionPrefix": False})
    assert [d for p in gone for d in p["results"]] == []


def test_wire_concurrent_requests_are_serialized_safely(srv):
    """8 client threads interleaving inserts and reads on separate streams:
    the coarse request lock must keep facade mutations consistent — every
    thread's final flushed read-back is exactly its own writes."""
    import threading

    call(srv, "Create", {"uuid": "cc-seed", "collection": "wire/cc"})
    errs, results = [], {}

    def worker(i: int) -> None:
        try:
            u = f"cc{i}"
            call(srv, "Create", {"uuid": u, "collection": "wire/cc"})
            for j in range(3):
                call(srv, "Insert", {"uuid": u, "sync": True, "values": [
                    {"time": 10 * j + t, "value": float(i)} for t in range(4)
                ]})
            pages = call(srv, "RawValues", {"uuid": u, "start": 0, "end": 1000})
            results[i] = [v for p in pages for v in p["values"]]
        except Exception as e:  # pragma: no cover - surfaced via errs
            errs.append((i, repr(e)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errs, errs
    for i in range(8):
        vals = results[i]
        assert len(vals) == 12
        assert all(v["value"] == float(i) for v in vals)


def test_wire_streams_pages_without_driver_materialization(srv, monkeypatch):
    """Streaming RPCs page through toLocalIterator — the whole result is
    never materialized on the driver. Proven by poisoning toPandas (the old
    materializing path) and collect for the duration of a multi-page
    RawValues: if any code path tried to gather the full result
    driver-side, the request would answer a coded 500 payload instead of
    clean pages."""
    from pyspark.sql import DataFrame

    call(srv, "Create", {"uuid": "big1", "collection": "wire/big"})
    for lo in range(0, 12_000, 4_000):
        call(srv, "Insert", {"uuid": "big1", "sync": True, "values": [
            {"time": t, "value": float(t)} for t in range(lo, lo + 4_000)
        ]})

    def boom(self, *a, **k):  # pragma: no cover - must never run
        raise AssertionError("driver-side materialization in streaming RPC")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    pages = call(srv, "RawValues", {"uuid": "big1", "start": 0, "end": 10**9})
    assert all(p["stat"]["code"] == 0 for p in pages)
    # 5000 is a MAX batch size (serve.go:63-68): partition-boundary pages
    # may run short, but no page overflows and nothing is lost/reordered.
    sizes = [len(p["values"]) for p in pages]
    assert max(sizes) <= 5000 and len(pages) >= 3
    times = [v["time"] for p in pages for v in p["values"]]
    assert times == list(range(12_000))


def test_wire_slow_client_drain_does_not_block_other_rpcs(srv):
    """The request lock is scoped to planning + the first page: a client
    that stalls mid-drain (response socket open, barely read) must not
    wedge the server — reads AND facade mutations on other connections
    complete while the stalled drain is pending."""
    import http.client
    import time

    host = srv.address.split("//", 1)[1]
    conn = http.client.HTTPConnection(host, timeout=300)
    conn.request(
        "POST", "/v5/RawValues",
        body=json.dumps({"uuid": "big1", "start": 0, "end": 10**9}),
    )
    resp = conn.getresponse()
    assert resp.read(64)  # leave the rest unread: drain is now stalled
    try:
        t0 = time.perf_counter()
        info = call(srv, "Info", {})
        ins = call(srv, "Insert", {"uuid": "big1", "sync": True, "values": [
            {"time": 10**15, "value": 1.0},
        ]})
        assert info["build"] == "btrdb_server_spark"
        assert ins["stat"]["code"] == 0
        assert time.perf_counter() - t0 < 60
    finally:
        resp.read()
        conn.close()


def test_wire_arrow_bulk_lane(srv):
    """The Arrow IPC extension lane: one valid IPC stream per request,
    produced executor-side (driver work O(batches)); values bit-identical
    to the JSON lane; an empty range answers schema-then-EOS (zero
    batches), not an error."""
    import pyarrow as pa

    req = urllib.request.Request(
        f"{srv.address}/v5/ArrowRawValues",
        data=json.dumps({"uuid": "big1", "start": 0, "end": 10**9}).encode(),
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=300) as r:
        assert r.headers["Content-Type"] == "application/vnd.apache.arrow.stream"
        tbl = pa.ipc.open_stream(r.read()).read_all()
    assert tbl.schema.names == ["time", "value"]
    assert tbl.num_rows == 12_000
    assert sorted(tbl.column("time").to_pylist()) == list(range(12_000))

    stat = urllib.request.Request(
        f"{srv.address}/v5/ArrowAlignedWindows",
        data=json.dumps({"uuid": "big1", "start": 0, "end": 1 << 14,
                         "pointWidth": 12}).encode(),
        method="POST",
    )
    with urllib.request.urlopen(stat, timeout=300) as r:
        stbl = pa.ipc.open_stream(r.read()).read_all()
    assert stbl.schema.names == ["time", "min", "mean", "max", "count"]
    assert sum(stbl.column("count").to_pylist()) == 12_000

    empty = urllib.request.Request(
        f"{srv.address}/v5/ArrowRawValues",
        data=json.dumps({"uuid": "big1", "start": 10**17,
                         "end": 10**17 + 1}).encode(),
        method="POST",
    )
    with urllib.request.urlopen(empty, timeout=300) as r:
        etbl = pa.ipc.open_stream(r.read()).read_all()
    assert etbl.num_rows == 0 and etbl.schema.names == ["time", "value"]


def test_wire_generate_csv_proto_shape(srv):
    """GenerateCSVParams exactly as btrdb.proto:269-282: queryType +
    startTime/endTime + streams[{uuid,label,version}]. Raw merge follows
    serve.go's earliest-time cursor (csv.go headers, %f cells, empty cell
    when a stream has no point at that time)."""
    call(srv, "Create", {"uuid": "pc1", "collection": "wire/csvp"})
    call(srv, "Create", {"uuid": "pc2", "collection": "wire/csvp"})
    call(srv, "Insert", {"uuid": "pc1", "sync": True, "values": [
        {"time": t, "value": float(t)} for t in (10, 20, 30)
    ]})
    call(srv, "Insert", {"uuid": "pc2", "sync": True, "values": [
        {"time": t, "value": 2.5} for t in (20, 40)
    ]})

    msgs = call(srv, "GenerateCSV", {
        "queryType": "RAW_QUERY", "startTime": 0, "endTime": 1000,
        "streams": [{"uuid": "pc1", "label": "left"},
                    {"uuid": "pc2", "label": "right"}],
    })
    assert msgs[0]["isHeader"]
    assert msgs[0]["row"] == [
        "Timestamp (ns)", "Human-Readable Time (UTC)", "left", "right",
    ]
    rows = [m["row"] for m in msgs[1:]]
    assert [r[0] for r in rows] == ["10", "20", "30", "40"]
    assert rows[0][1] == "1970-01-01T00:00:00Z"  # RFC3339 of ns epoch
    assert [r[2] for r in rows] == ["10.000000", "20.000000", "30.000000", ""]
    assert [r[3] for r in rows] == ["", "2.500000", "", "2.500000"]

    # ALIGNED_WINDOWS_QUERY: pointWidth rides in `depth` (serve.go:908),
    # four columns per stream, includeVersions suffixes the label.
    stat = call(srv, "GenerateCSV", {
        "queryType": 0, "startTime": 0, "endTime": 1024, "depth": 5,
        "includeVersions": True,
        "streams": [{"uuid": "pc1", "label": "s"}],
    })
    hdr = stat[0]["row"]
    assert hdr[2].startswith("s, ver. ") and hdr[2].endswith(" (Min)")
    assert [h.rsplit("(", 1)[1] for h in hdr[2:]] == [
        "Min)", "Mean)", "Max)", "Count)",
    ]
    srows = [m["row"] for m in stat[1:]]
    assert [r[0] for r in srows] == ["0"]  # 10, 20, 30 all in bucket 0-31
    assert srows[0][2:] == ["10.000000", "20.000000", "30.000000", "3"]


def test_wire_stat_reads_served_from_rollup_ladder(spark, tmp_path):
    """Composed system over the wire: a ladder-backed facade answers
    AlignedWindows from the materialized rollup tier, and the wire result
    equals the raw aggregation computed client-side from RawValues."""
    import collections

    db = BTrDB(spark, str(tmp_path / "ldb"), rollup_levels=[4])
    srv = BTrDBHttpServer(db).start()
    try:
        call(srv, "Create", {"uuid": "lw", "collection": "wire/l"})
        call(srv, "Insert", {"uuid": "lw", "sync": True, "values": [
            {"time": t, "value": float(t % 7)} for t in range(0, 256, 3)
        ]})
        pages = call(srv, "AlignedWindows", {
            "uuid": "lw", "start": 0, "end": 256, "pointWidth": 5,
        })
        stat = {v["time"]: v for p in pages for v in p["values"]}
        raw = call(srv, "RawValues", {"uuid": "lw", "start": 0, "end": 256})
        buckets = collections.defaultdict(list)
        for p in raw:
            for v in p["values"]:
                buckets[(v["time"] >> 5) << 5].append(v["value"])
        assert set(stat) == set(buckets)
        for b, vals in buckets.items():
            s = stat[b]
            assert (s["min"], s["max"], s["count"]) == (
                min(vals), max(vals), len(vals)
            )
            assert abs(s["mean"] - sum(vals) / len(vals)) < 1e-9
    finally:
        srv.stop()


def test_wire_arrow_middrain_failure_is_loud(srv, monkeypatch):
    """A mid-drain failure on the Arrow lane must NOT fake a clean end of
    stream: every chunk is a complete IPC message, so a truncated body
    that still gets the chunked terminator parses as a valid short table.
    The server withholds the terminator and closes the connection — the
    client's HTTP layer raises instead of returning partial data."""
    import http.client

    from btrdb_server_spark import server as server_mod

    real = server_mod._arrow_ipc_chunks

    def sabotaged(df):
        it = real(df)
        yield next(it)  # schema + maybe a batch arrives fine

        raise RuntimeError("executor lost mid-drain")

    monkeypatch.setattr(server_mod, "_arrow_ipc_chunks", sabotaged)
    host = srv.address.split("//", 1)[1]
    conn = http.client.HTTPConnection(host, timeout=300)
    try:
        conn.request(
            "POST", "/v5/ArrowRawValues",
            body=json.dumps({"uuid": "big1", "start": 0, "end": 10**9}),
        )
        resp = conn.getresponse()
        assert resp.status == 200  # headers were already committed
        with pytest.raises((http.client.IncompleteRead, ConnectionError)):
            resp.read()
    finally:
        conn.close()


def test_wire_read_rpcs_run_concurrently(srv, monkeypatch):
    """Read RPCs share the request lock: two StreamInfo calls are inside
    the facade at once. Each waits on a two-party barrier, which the
    second call can only reach if the first one's lock hold admits it."""
    import threading

    call(srv, "Create", {"uuid": "rr1", "collection": "wire/rr"})
    barrier = threading.Barrier(2, timeout=10)
    real = srv.db.stream_info

    def meet(uuid):
        barrier.wait()
        return real(uuid)

    monkeypatch.setattr(srv.db, "stream_info", meet)
    out = [None, None]

    def worker(i: int) -> None:
        out[i] = call(srv, "StreamInfo", {"uuid": "rr1"})

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert [o["stat"]["code"] for o in out] == [0, 0], out


def test_wire_mutation_excludes_reads_and_is_not_starved(srv, monkeypatch):
    """A mutating RPC holds the request lock alone — no read is inside the
    facade while it runs — and it is not starved by reads: 4 threads loop
    staggered, overlapping StreamInfo calls (so some read nearly always
    holds the lock), and Create calls still finish promptly, because a
    waiting writer keeps new readers out."""
    import threading
    import time

    call(srv, "Create", {"uuid": "rw1", "collection": "wire/rw"})
    inside = {"read": 0, "write": 0}
    overlaps, errs, codes = [], [], []
    guard = threading.Lock()

    def tracked(kind, fn, hold_s):
        def run(*a, **k):
            with guard:
                inside[kind] += 1
                if inside["write"] and (inside["read"] or inside["write"] > 1):
                    overlaps.append(dict(inside))
            try:
                time.sleep(hold_s)
                return fn(*a, **k)
            finally:
                with guard:
                    inside[kind] -= 1

        return run

    monkeypatch.setattr(srv.db, "stream_info",
                        tracked("read", srv.db.stream_info, 0.3))
    monkeypatch.setattr(srv.db, "create", tracked("write", srv.db.create, 0.2))
    stop, written = threading.Event(), threading.Event()

    def reader(i: int) -> None:
        time.sleep(0.075 * i)
        while not stop.is_set():
            try:
                r = call(srv, "StreamInfo", {"uuid": "rw1"})
                if r["stat"]["code"] != 0:
                    errs.append(r["stat"])
            except Exception as e:  # pragma: no cover - surfaced via errs
                errs.append(repr(e))

    def writer() -> None:
        for i in range(3):
            codes.append(call(srv, "Create", {
                "uuid": f"rwn{i}", "collection": f"wire/rwn{i}",
            })["stat"]["code"])
        written.set()

    readers = [threading.Thread(target=reader, args=(i,)) for i in range(4)]
    for t in readers:
        t.start()
    time.sleep(0.6)  # the readers now overlap continuously
    w = threading.Thread(target=writer)
    w.start()
    finished = written.wait(timeout=20)
    stop.set()
    for t in readers + [w]:
        t.join(timeout=150)
    assert finished, "mutating RPCs starved behind overlapping reads"
    assert codes == [0, 0, 0]
    assert not errs, errs
    assert not overlaps, overlaps


def test_wire_read_planning_runs_no_spark_jobs(spark, tmp_path, monkeypatch):
    """Planning a read RPC builds plans only; its Spark jobs start with the
    first page. Covers the two reads that used to sample parquet footers
    while planning: RawValues over a stream with a tombstone, and
    AlignedWindows served from the ladder (level selection and level
    scan). Checked by job group on the status tracker."""
    db = BTrDB(spark, str(tmp_path / "plan"), rollup_levels=[4])
    db.create("pz", "wire/p")
    db.insert("pz", [(t, float(t % 5)) for t in range(0, 256, 2)])
    db.delete("pz", 64, 96)
    served = []
    real_serve = db.ladder.serve_aligned
    monkeypatch.setattr(db.ladder, "serve_aligned",
                        lambda *a: served.append(a) or real_serve(*a))
    srv = BTrDBHttpServer(db).start()
    sc = spark.sparkContext
    group = "wire-plan-probe"
    try:
        sc.setJobGroup(group, "read planning only")
        try:
            raw = srv.rpc_RawValues({"uuid": "pz", "start": 0, "end": 256})
            aw = srv.rpc_AlignedWindows(
                {"uuid": "pz", "start": 0, "end": 256, "pointWidth": 5}
            )
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == []
        assert len(served) == 1
        kept = [t for t in range(0, 256, 2) if not 64 <= t < 96]
        raw_vals = [v for p in raw for v in json.loads(p)["values"]]
        assert [v["time"] for v in raw_vals] == kept
        aw_vals = [v for p in aw for v in json.loads(p)["values"]]
        assert sum(v["count"] for v in aw_vals) == len(kept)
        assert 64 not in {v["time"] for v in aw_vals}
    finally:
        srv.stop()


def _spark_jobs(sc, group: str, fn):
    """(number of Spark jobs, result) of fn(), with a streamed result
    drained inside the job group."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
        if hasattr(out, "__next__"):
            out = [json.loads(p) for p in out]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_wire_single_stream_reads_run_one_spark_job(spark, tmp_path):
    """A small single-stream read RPC plans as one partition and runs as
    one Spark job: no tombstone scan or broadcast, no range-sort sampling
    job, no shuffle-map job. The store has a compacted base, an
    uncompacted tail and a tombstone on the read stream."""
    db = BTrDB(spark, str(tmp_path / "jobs"), rollup_levels=[4])
    db.create("jz", "wire/j")
    db.insert("jz", [(t, float(t % 7)) for t in range(0, 512, 2)])
    db.store.compact()
    db.insert("jz", [(t, 1.0) for t in range(512, 640, 2)])  # fresh tail
    db.delete("jz", 64, 96)
    kept = [t for t in range(0, 640, 2) if not 64 <= t < 96]
    served = []
    real_serve = db.ladder.serve_aligned
    db.ladder.serve_aligned = lambda *a: served.append(a) or real_serve(*a)
    srv = BTrDBHttpServer(db).start()
    sc = spark.sparkContext
    span = {"uuid": "jz", "start": 0, "end": 640}
    try:
        def jobs(name, rpc, req):
            return _spark_jobs(sc, f"wire-jobs-{name}", lambda: rpc(req))

        n, pages = jobs("raw", srv.rpc_RawValues, span)
        assert n == 1
        assert [v["time"] for p in pages for v in p["values"]] == kept

        for name, req in (
            ("aligned-version", {**span, "pointWidth": 5,
                                 "versionMajor": db.store.version}),
            ("aligned-ladder", {**span, "pointWidth": 5}),
        ):
            n, pages = jobs(name, srv.rpc_AlignedWindows, req)
            assert n == 1, name
            vals = [v for p in pages for v in p["values"]]
            assert sum(v["count"] for v in vals) == len(kept), name
        assert len(served) == 1  # the second read came from the ladder

        n, pages = jobs("changes", srv.rpc_Changes, {
            "uuid": "jz", "fromMajor": db.store.compacted_through,
            "toMajor": db.store.version, "resolution": 4,
        })
        assert n == 1
        assert [(r["start"], r["end"]) for p in pages for r in p["ranges"]] == [
            (64, 96), (512, 640)
        ]

        n, out = jobs("nearest", srv.rpc_Nearest,
                      {"uuid": "jz", "time": 90, "backward": True})
        assert n == 1
        assert out["value"]["time"] == 62

        for name, req in (
            ("windows", {**span, "width": 64}),
            ("windows-depth", {**span, "width": 64, "depth": 4}),
        ):
            n, pages = jobs(name, srv.rpc_Windows, req)
            assert n == 1, name
            vals = [v for p in pages for v in p["values"]]
            assert sum(v["count"] for v in vals) == len(kept), name
    finally:
        srv.stop()


def _result_partitions(sc, group: str) -> int:
    """Jobs of `group` whose last stage ran one task: toLocalIterator's
    fetches, one per result partition."""
    st = sc.statusTracker()
    return sum(
        st.getStageInfo(max(st.getJobInfo(j).stageIds)).numTasks == 1
        for j in st.getJobIdsForGroup(group)
    )


def test_wire_large_reads_keep_the_scan_partitions(spark, tmp_path, monkeypatch):
    """A read over more than store.ONE_TASK_SCAN_BYTES keeps its scan's
    partitions: it answers exactly what the one-partition plan answers,
    and its pages reach the driver one partition at a time, so the driver
    never holds the whole answer. The bound is lowered below any scan to
    take that plan on a small store."""
    from pyspark.sql import functions as F

    from btrdb_server_spark import store as store_mod

    db = BTrDB(spark, str(tmp_path / "large"), rollup_levels=[4])
    n = 12_345
    db.store.insert_many(  # several files, written out of time order
        spark.range(0, n, 1, 4).select(
            F.lit("lg").alias("uuid"),
            ((F.lit(n - 1) - F.col("id")) * 2).alias("time"),
            F.col("id").cast("double").alias("value"),
        )
    )
    db.ladder.rebuild(db.store.points_at())
    db.store.delete_range("lg", 100, 300)
    srv = BTrDBHttpServer(db).start()
    sc = spark.sparkContext
    span = {"uuid": "lg", "start": 0, "end": 2 * n}
    reqs = {
        "RawValues": span,
        "AlignedWindows": {**span, "pointWidth": 6},
        "Windows": {**span, "width": 1000},
        "Changes": {"uuid": "lg", "fromMajor": 0,
                    "toMajor": db.store.version, "resolution": 3},
    }

    def answers(tag):
        out = {}
        for rpc, req in reqs.items():
            n_jobs, pages = _spark_jobs(
                sc, f"large-{tag}-{rpc}", lambda: getattr(srv, f"rpc_{rpc}")(req)
            )
            key = "ranges" if rpc == "Changes" else "values"
            out[rpc] = (n_jobs, [len(p[key]) for p in pages],
                        [v for p in pages for v in p[key]])
        return out

    try:
        small = answers("small")
        monkeypatch.setattr(store_mod, "ONE_TASK_SCAN_BYTES", -1)
        large = answers("large")
        fetches = _result_partitions(sc, "large-large-RawValues")
    finally:
        srv.stop()
    for rpc in reqs:
        assert small[rpc][0] == 1, rpc
        assert large[rpc][0] > 1, rpc
        assert large[rpc][2] == small[rpc][2], rpc
    kept = [t for t in range(0, 2 * n, 2) if not 100 <= t < 300]
    assert [v["time"] for v in large["RawValues"][2]] == kept
    assert small["RawValues"][1] == [5000, 5000, 2245]
    assert max(large["RawValues"][1]) <= 5000
    assert fetches > 1


def test_scan_bytes_counts_only_the_pruned_files(spark, tmp_path):
    """store.scan_bytes sizes a read by the files left after partition
    pruning: one stream's compacted bucket is a fraction of the fleet."""
    from btrdb_server_spark.store import PointStore, fits_one_task, scan_bytes

    store = PointStore(spark, str(tmp_path / "sized"), num_buckets=8)
    store.insert_many(spark.createDataFrame(
        [(f"s{i}", t, float(t)) for i in range(16) for t in range(200)],
        "uuid string, time long, value double",
    ))
    store.compact()
    one, fleet = scan_bytes(store.stream_points("s3")), scan_bytes(store.points_at())
    assert 0 < one < fleet
    assert fits_one_task(store.stream_points("s3"))


def test_wire_pages_are_full_and_in_time_order(spark, tmp_path):
    """Pages hold exactly the batch size except the last, in time order,
    whatever the store's file layout; Changes pages by at most 1000
    ranges; an empty answer is one empty page."""
    from pyspark.sql import functions as F

    db = BTrDB(spark, str(tmp_path / "pages"))
    n = 12_345
    db.store.insert_many(  # several files, written out of time order
        spark.range(0, n, 1, 4).select(
            F.lit("pg").alias("uuid"),
            ((F.lit(n - 1) - F.col("id")) * 2).alias("time"),
            F.col("id").cast("double").alias("value"),
        )
    )
    srv = BTrDBHttpServer(db).start()
    try:
        pages = call(srv, "RawValues", {"uuid": "pg", "start": 0, "end": 2 * n})
        assert [len(p["values"]) for p in pages] == [5000, 5000, 2345]
        assert [v["time"] for p in pages for v in p["values"]] == list(
            range(0, 2 * n, 2)
        )
        # resolution 0: every point is its own changed range, none adjacent
        pages = call(srv, "Changes", {"uuid": "pg", "fromMajor": 0,
                                      "toMajor": db.store.version,
                                      "resolution": 0})
        sizes = [len(p["ranges"]) for p in pages]
        assert max(sizes) <= 1000 and sum(sizes) == n
        starts = [r["start"] for p in pages for r in p["ranges"]]
        assert starts == list(range(0, 2 * n, 2))
        pages = call(srv, "RawValues", {"uuid": "pg", "start": 3 * n, "end": 4 * n})
        assert len(pages) == 1
        assert pages[0]["stat"]["code"] == 0 and pages[0]["values"] == []
    finally:
        srv.stop()
