"""`serve` workload: a closed loop of 4 client threads, one HTTP connection
each, against BTrDBHttpServer in its own process (perfbench/serve_server.py).

Every client sends its next RPC only after the previous answer has been read
and checked. The RPC mix is seeded: blocks holding one request of each of
the 11 kinds below in a seeded order, each against a Zipf-skewed stream.
Answers are checked against values recomputed from the generator.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import tempfile
import threading
import time

import numpy as np

from perfbench.common import (
    OUT,
    REPO,
    SEC,
    T0,
    TreeSampler,
    latency_summary,
    log,
    nproc,
    spark_layer_metrics,
    union_length,
)
from perfbench.gen import ServeData

CLIENTS = 4
SERVER_TIMEOUT_S = 170
AGG_PW = 38  # ~275 s buckets, served from the pw=36 ladder level
WINDOW = 600 * SEC
DEPTH = 36
CHANGES_RES = 30

# kind -> RPC method
KINDS = {
    "raw_short": "RawValues",
    "raw_full": "RawValues",
    "arrow_full": "ArrowRawValues",
    "aligned_ladder": "AlignedWindows",
    "aligned_version": "AlignedWindows",
    "windows": "Windows",
    "windows_depth": "Windows",
    "nearest": "Nearest",
    "changes": "Changes",
    "stream_info": "StreamInfo",
    "lookup": "LookupStreams",
}
METHODS = sorted(set(KINDS.values()))


class Mismatch(Exception):
    pass


# ------------------------------------------------------------- requests --


def make_ops(data: ServeData, seed: int, n_blocks: int) -> list:
    """Seeded op list: (kind, stream index, request body)."""
    rng = np.random.default_rng(seed + 17)
    ranks = rng.permutation(data.n_streams)
    w = 1.0 / np.arange(1, data.n_streams + 1) ** 1.1
    p = w / w.sum()
    kinds = list(KINDS)
    ops = []
    for _ in range(n_blocks):
        for kind in rng.permutation(kinds):
            k = int(ranks[rng.choice(data.n_streams, p=p)])
            ops.append((kind, k, request(data, kind, k, rng)))
    return ops


def request(data: ServeData, kind: str, k: int, rng) -> dict:
    u = data.uuids[k]
    start, end = data.time_range(0, data.n)
    if kind == "raw_short":
        lo = int(rng.integers(0, data.n - 300))
        s, e = data.time_range(lo, lo + 300)
        return {"uuid": u, "start": s, "end": e}
    if kind in ("raw_full", "arrow_full"):
        return {"uuid": u, "start": start, "end": end}
    if kind == "aligned_ladder":
        return {"uuid": u, "start": start, "end": end, "pointWidth": AGG_PW}
    if kind == "aligned_version":
        return {"uuid": u, "start": start, "end": end, "pointWidth": AGG_PW,
                "versionMajor": 12}
    if kind == "windows":
        return {"uuid": u, "start": start, "end": end, "width": WINDOW}
    if kind == "windows_depth":
        return {"uuid": u, "start": start, "end": end, "width": WINDOW, "depth": DEPTH}
    if kind == "nearest":
        lo = int(rng.integers(1, data.n - 1))
        return {"uuid": u, "time": T0 + lo * SEC + SEC // 2, "backward": bool(rng.integers(0, 2))}
    if kind == "changes":
        return {"uuid": u, "fromMajor": 1, "toMajor": 12, "resolution": CHANGES_RES}
    if kind == "stream_info":
        return {"uuid": u}
    return {"collection": data.collection(k), "isCollectionPrefix": False}


# --------------------------------------------------------------- checks --


def _ndjson(body: bytes, key: str) -> list:
    out = []
    for line in body.splitlines():
        msg = json.loads(line)
        if msg["stat"]["code"] != 0:
            raise Mismatch(f"stat {msg['stat']}")
        out.extend(msg.get(key, []))
    return out


def _unary(body: bytes) -> dict:
    msg = json.loads(body)
    if msg["stat"]["code"] != 0:
        raise Mismatch(f"stat {msg['stat']}")
    return msg


def _eq(name: str, got, want) -> None:
    if not np.array_equal(np.asarray(got), np.asarray(want)):
        raise Mismatch(f"{name}: got {np.asarray(got)[:5]}... want {np.asarray(want)[:5]}...")


def _close(name: str, got, want) -> None:
    if not np.allclose(np.asarray(got, dtype=float), np.asarray(want, dtype=float), rtol=1e-9, atol=1e-9):
        raise Mismatch(f"{name}: values differ")


def _buckets(t, v, pw):
    """Expected aligned stats: (bucket starts, counts, mins, maxs, sums)."""
    b = (t >> pw) << pw
    starts, first, counts = np.unique(b, return_index=True, return_counts=True)
    return (starts, counts, np.minimum.reduceat(v, first),
            np.maximum.reduceat(v, first), np.add.reduceat(v, first))


def check(data: ServeData, kind: str, k: int, req: dict, body: bytes) -> int:
    """Raise Mismatch unless `body` is the right answer; return the number
    of points (raw) or stat rows the answer carried."""
    t, v = data.visible(k)
    if kind in ("raw_short", "raw_full", "arrow_full"):
        sel = (t >= req["start"]) & (t < req["end"])
        if kind == "arrow_full":
            import pyarrow as pa

            tbl = pa.ipc.open_stream(body).read_all()
            gt, gv = tbl.column("time").to_numpy(), tbl.column("value").to_numpy()
        else:
            rows = _ndjson(body, "values")
            gt = [r["time"] for r in rows]
            gv = [r["value"] for r in rows]
        _eq("time", gt, t[sel])
        _eq("value", gv, v[sel])
        return len(gt)
    if kind.startswith("aligned"):
        pw = req["pointWidth"]
        lo = (req["start"] >> pw) << pw
        hi = (req["end"] >> pw) << pw
        sel = (t >= lo) & (t < hi)
        starts, counts, mins, maxs, sums = _buckets(t[sel], v[sel], pw)
        rows = _ndjson(body, "values")
        _eq("bucket", [r["time"] for r in rows], starts)
        _eq("count", [r["count"] for r in rows], counts)
        _eq("min", [r["min"] for r in rows], mins)
        _eq("max", [r["max"] for r in rows], maxs)
        _close("mean", [r["mean"] for r in rows], sums / counts)
        return len(rows)
    if kind.startswith("windows"):
        width, start = req["width"], req["start"]
        end = req["end"] - (req["end"] - start) % width
        rows = _ndjson(body, "values")
        _eq("windows", [r["time"] for r in rows], np.arange(start, end, width))
        got = np.array([int(r.get("count", 0)) for r in rows])
        if kind == "windows":
            sel = (t >= start) & (t < end)
            _eq("count", got, np.bincount((t[sel] - start) // width, minlength=len(rows)))
        else:
            # Ladder serve: a 2**depth bucket straddling the end counts whole.
            d = req["depth"]
            _eq("total", got.sum(), int(np.sum(((t >> d) << d) < end)))
        return len(rows)
    if kind == "nearest":
        msg = _unary(body)
        q = req["time"]
        i = np.searchsorted(t, q) - 1 if req["backward"] else np.searchsorted(t, q)
        _eq("nearest", [msg["value"]["time"], msg["value"]["value"]], [t[i], v[i]])
        return 1
    if kind == "changes":
        rows = _ndjson(body, "ranges")
        res = req["resolution"]
        fresh = np.unique((t[t >= T0 + data.n_base * SEC] >> res) << res)
        want = [(int(b), int(b) + (1 << res)) for b in fresh]
        for ks, lo, hi in data.deletes:
            if ks == k:
                s, e = data.time_range(lo, hi)
                want.append(((s >> res) << res, ((e + (1 << res) - 1) >> res) << res))
        _eq("changed ns", union_length([(r["start"], r["end"]) for r in rows]), union_length(want))
        return len(rows)
    if kind == "stream_info":
        msg = _unary(body)
        _eq("version", msg["versionMajor"], data.stream_version(k))
        if msg["descriptor"]["collection"] != data.collection(k):
            raise Mismatch("collection")
        return 1
    rows = _ndjson(body, "results")
    want = sorted(data.uuids[j] for j in range(data.n_streams) if data.collection(j) == req["collection"])
    if sorted(r["uuid"] for r in rows) != want:
        raise Mismatch("lookup results")
    return len(rows)


# --------------------------------------------------------------- client --


class Client:
    def __init__(self, address: str, data: ServeData, trace: bool, expect=check):
        host, port = address.removeprefix("http://").split(":")
        self.conn = http.client.HTTPConnection(host, int(port), timeout=170)
        self.data = data
        self.trace = trace
        self.expect = expect

    def call(self, op_id: str, kind: str, k: int, req: dict) -> dict:
        headers = {"Content-Type": "application/json"}
        body = json.dumps(req)
        if self.trace:
            headers["X-Bench-Op"] = op_id
            headers["X-Bench-Sent"] = repr(time.time())
        t0 = time.perf_counter()
        self.conn.request("POST", "/v5/" + KINDS[kind], body, headers)
        resp = self.conn.getresponse()
        data = resp.read()
        ms = 1000.0 * (time.perf_counter() - t0)
        rec = {"op": op_id, "kind": kind, "method": KINDS[kind], "ms": ms,
               "bytes": len(data), "points": 0, "ok": True}
        try:
            if resp.status != 200:
                raise Mismatch(f"HTTP {resp.status}")
            rec["points"] = self.expect(self.data, kind, k, req, data)
        except (Mismatch, ValueError, KeyError, IndexError, TypeError) as e:
            rec["ok"] = False
            rec["error"] = f"{kind}: {e}"
        return rec

    def close(self) -> None:
        self.conn.close()


def closed_loop(address, data, ops, seconds, trace, expect=check) -> tuple:
    """Run CLIENTS threads over the shared op sequence until `seconds` have
    elapsed and the current block of len(KINDS) ops is issued, or the ops
    run out; every started op is completed. Ending on a block boundary
    keeps the op mix, and so the rates, the same from run to run. Returns
    (records, wall s)."""
    it = iter(enumerate(ops))
    lock = threading.Lock()
    records: list = []
    errors: list = []
    stop = threading.Event()
    deadline = time.perf_counter() + seconds

    def worker():
        c = Client(address, data, trace, expect)
        try:
            while True:
                with lock:
                    nxt = None if stop.is_set() else next(it, None)
                    if nxt is None or (nxt[0] % len(KINDS) == 0
                                       and time.perf_counter() >= deadline):
                        stop.set()
                        break
                i, (kind, k, req) = nxt
                rec = c.call(str(i), kind, k, req)
                with lock:
                    records.append(rec)
        except Exception as e:  # noqa: BLE001 — reported as a failed op
            errors.append(repr(e))
        finally:
            c.close()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=worker) for _ in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    for e in errors:
        records.append({"op": "-", "kind": "client", "method": "-", "ms": 0.0,
                        "bytes": 0, "points": 0, "ok": False, "error": e})
    return records, wall


# ----------------------------------------------------------------- run --


def run(seed: int, seconds: float, trace: bool, points: int = ServeData.n,
        expect=check) -> dict:
    os.makedirs(OUT, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"serve-{seed}-", dir=OUT)
    cmd = [sys.executable, os.path.join(REPO, "perfbench", "serve_server.py"),
           "--root", workdir, "--seed", str(seed), "--points", str(points)]
    if trace:
        cmd.append("--trace")
    data = ServeData(seed, n=points)
    t_spawn = time.perf_counter()
    with open(os.path.join(workdir, "server.log"), "w") as errlog:
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=errlog, text=True, cwd=REPO)
    sampler = TreeSampler(proc.pid).start()
    # A server that hangs is killed, which ends the reads below.
    watchdog = threading.Timer(SERVER_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        line = proc.stdout.readline()
        if not line.startswith("READY "):
            raise RuntimeError(f"server failed to start; see {workdir}/server.log")
        address = json.loads(line[6:])["address"]
        # Warm-up: one block of every kind through the same clients, checked.
        warm_recs, _ = closed_loop(address, data, make_ops(data, seed + 1, 1),
                                   float("inf"), False, expect)
        setup_s = time.perf_counter() - t_spawn

        ops = make_ops(data, seed, 100)
        cpu0, w0 = sampler.cpu_seconds(), time.perf_counter()
        records, wall = closed_loop(address, data, ops, seconds, trace, expect)
        cpu_s = sampler.cpu_seconds() - cpu0
        cpu_wall = time.perf_counter() - w0
        proc.stdin.write("stop\n")
        proc.stdin.flush()
        if proc.stdout.readline().strip() != "DONE":
            raise RuntimeError(f"server failed to report; see {workdir}/server.log")
        proc.wait(timeout=60)
    finally:
        watchdog.cancel()
        sampler.stop()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    with open(os.path.join(workdir, "server.json")) as f:
        srv = json.load(f)

    ok = [r for r in records if r["ok"]]
    lat = latency_summary([r["ms"] for r in ok])
    points_out = sum(r["points"] for r in ok)
    raw = [r for r in ok if r["kind"] in ("raw_full", "arrow_full", "raw_short")]
    live_bytes = 16.0 * data.live_points
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / wall,
        "points_per_s": points_out / wall,
        "op_p50_ms": lat["p50_ms"],
        "op_tail_ms": lat["tail_ms"],
        "bytes_per_user_byte": (srv["store_bytes"] + srv["ladder_bytes"]) / live_bytes,
    }
    layers = {
        "peak_rss_mb": sampler.peak_kb / 1024.0,
        "server.bytes_per_point": sum(r["bytes"] for r in raw) / max(1, sum(r["points"] for r in raw)),
        "store.files": float(srv["store_files"]),
        "store.fresh_versions": float(srv["fresh_versions"]),
        "store.bytes_per_user_byte": srv["store_bytes"] / live_bytes,
        "rollup.bytes_per_user_byte": srv["ladder_bytes"] / live_bytes,
        "proc.cpu_util": cpu_s / (cpu_wall * nproc()),
    }
    for m in METHODS:
        layers[f"rpc.{m}.p50_ms"] = latency_summary([r["ms"] for r in ok if r["method"] == m])["p50_ms"]
    if trace:
        layers.update(srv["spans"])
        layers["rollup.rebuild_s"] = srv["rebuild_s"]
        per_op = list(srv["spark_per_op"].values())
        rows = sum(r["points"] for r in ok if r["op"] in srv["spark_per_op"])
        layers.update(spark_layer_metrics(per_op, rows))
    all_recs = warm_recs + records
    log(f"serve: {len(records)} ops in {wall:.1f}s, setup {setup_s:.1f}s, build {srv['build_s']:.1f}s")
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(all_recs),
        "failed": sum(not r["ok"] for r in all_recs),
        "errors": [r["error"] for r in all_recs if not r["ok"]][:20],
        "latency": lat,
        "anchor_s": srv["anchor_s"],
        "layer_self_s": srv.get("layer_self_s", {}),
        "detail": {"build_s": srv["build_s"],
                   "ops": [(r["kind"], round(r["ms"], 1)) for r in records]},
        "workdir": workdir,
    }
