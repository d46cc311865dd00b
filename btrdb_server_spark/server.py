"""Wire protocol: the 18 RPCs of btrdb.proto served over JSON/HTTP.

The reference exposes its API as gRPC (grpcinterface/serve.go:63-1011,
btrdb.proto). This environment has no grpc runtime (and installs are not
allowed), so the wire layer speaks the same MESSAGE SHAPES over plain
HTTP/1.1 with Python-stdlib plumbing — a remote client that cannot import
this package can still drive every operation:

    POST /v5/<Method>            body: the proto request message as JSON
                                 (field names exactly as in btrdb.proto;
                                 uuid as a string, not bytes)

- Unary RPCs answer one JSON object shaped like the proto response.
- Streaming RPCs (RawValues, AlignedWindows, Windows, Changes,
  LookupStreams, GenerateCSV — the `returns (stream ...)` set) answer
  `application/x-ndjson`: one response message per line, paged like the
  reference (5000 points / 1000 ranges / 200 descriptors per message;
  CSV one row per message), so a client parses fixed-size messages
  regardless of result size. Pages are produced LAZILY from
  `toLocalIterator`, one partition at a time — the driver holds at most
  a few partitions, so a result far bigger than driver memory (or
  maxResultSize) streams through, like the reference's bounded
  5000-point channel (serve.go:141-179). A small single-stream read
  (RawValues, AlignedWindows, Windows, Nearest, Changes; see
  store.fits_one_task) plans as ONE partition and runs as one Spark job,
  its pages built in the JVM (_stream_df_fragments) — like the
  reference, which answers one stream with one tree descent
  (qtree.go:968-1031); a larger one keeps its scan's partitions. The
  request lock covers planning and the first page only, never the
  client drain.
- Every response carries `stat`: {"code": 0, "msg": ""} on success, a
  bte/errors.go-mirrored code (constants.py:53-65) on failure — errors
  are a payload, not an HTTP 5xx, matching gRPC semantics.
- EXTENSION: ArrowRawValues / ArrowAlignedWindows answer one Arrow IPC
  stream (application/vnd.apache.arrow.stream) — the binary columnar
  data-plane lane; see _arrow_ipc_chunks.

Scale stance: this is a CONTROL-PLANE door, not the data plane. Results
stream through the driver by design (the reference's gRPC responses do
too — serve.go pages qtree results through one goroutine); bulk analytics
belong on the embedded DataFrame API / SQL surface, where results never
leave the cluster. Requests pass a writer-preferring reader/writer lock:
read RPCs share it, so their planning and Spark jobs overlap; mutating
RPCs (Insert, Delete, Flush, Obliterate, Create, SetStreamAnnotations)
hold it alone, because facade mutations (write buffer, registry CAS) are
not concurrency-safe per stream — the reference holds per-stream mutexes
for the same reason (pqm.go). Reads only read facade state (the one memo
they fill, the registry DataFrame, is idempotent, so two readers racing
to build it agree), and each store read pins one manifest snapshot
(store.py points_at).

FaultInject mirrors the reference's default-disabled behavior
(serve.go:797-822 requires BTRDB_ENABLE_FAULT_INJECT): it answers an
error status unless enable_fault_inject=True, and even then only echoes —
there is nothing to corrupt on purpose in a test build.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from btrdb_server_spark.constants import ERR_NO_SUCH_POINT
from btrdb_server_spark.store import BTrDBError

# Response paging mirrors the reference (serve.go:63-68): 5000 raw/stat
# points, 1000 changed ranges, 200 stream descriptors per message.
STREAM_BATCH = 5000
RANGE_BATCH = 1000
LOOKUP_BATCH = 200

_OK = {"code": 0, "msg": ""}


class _PreEncoded(str):
    """A streamed message already serialized to JSON. The hot point-paging
    paths render rows to JSON fragments JVM-side (to_json in the scan job)
    and the driver joins page strings, instead of materializing 5000 dicts
    per page for json.dumps to walk — measured ~4x wire throughput on
    RawValues. Number text is Jackson's round-trip-exact form; a client
    parsing the JSON recovers bit-identical doubles."""


def _kv(d: Optional[dict]) -> list[dict]:
    """map -> repeated KeyValue (proto KeyValue {key, value})."""
    return [{"key": k, "value": v} for k, v in sorted((d or {}).items())]


def _from_kv(rows: Optional[list]) -> dict:
    """repeated KeyValue/KeyOptValue JSON -> python dict.

    KeyOptValue's absent value means "key present, any value" for lookup
    filters and "delete this key" for annotation changes — both map to
    None, matching the facade's convention.
    """
    out = {}
    for r in rows or []:
        if "val" in r:  # KeyOptValue { key, OptValue val { string value } }
            v = r["val"].get("value") if isinstance(r["val"], dict) else r["val"]
        else:
            v = r.get("value")
        out[r["key"]] = v
    return out


class _ReadWriteLock:
    """Writer-preferring reader/writer lock. Any number of readers hold it
    together; a writer holds it alone. A waiting writer blocks NEW readers,
    so a steady stream of overlapping reads cannot starve a mutation."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writing = False
        self._writers_waiting = 0

    @contextmanager
    def read(self):
        with self._cond:
            while self._writing or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if not self._readers:
                    self._cond.notify_all()

    @contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writing or self._readers:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writing = True
        try:
            yield
        finally:
            with self._cond:
                self._writing = False
                self._cond.notify_all()


# RPCs that only read facade state share the request lock; every other RPC
# (Insert, Delete, Flush, Obliterate, Create, SetStreamAnnotations — and any
# RPC added later until it is listed here) holds it alone.
_READ_RPCS = frozenset({
    "RawValues", "ArrowRawValues", "ArrowAlignedWindows", "AlignedWindows",
    "Windows", "Nearest", "Changes", "StreamInfo", "LookupStreams",
    "ListCollections", "GetMetadataUsage", "GenerateCSV", "Info",
    "FaultInject",
})


def _descriptor(row) -> dict:
    return {
        "uuid": row["uuid"],
        "collection": row["collection"],
        "tags": _kv(row["tags"]),
        "annotations": _kv(row["annotations"]),
        "annotationVersion": row["annotation_version"],
    }


class BTrDBHttpServer:
    """Serve a BTrDB facade over JSON/HTTP. start() binds an ephemeral (or
    given) port and serves on a daemon thread; stop() shuts down."""

    def __init__(self, db, host: str = "127.0.0.1", port: int = 0,
                 enable_fault_inject: bool = False):
        self.db = db
        self._lock = _ReadWriteLock()
        self._enable_fault_inject = enable_fault_inject
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet: tests/benches drive this hard
                pass

            def do_POST(self):
                outer._dispatch(self)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: Optional[threading.Thread] = None

    @property
    def address(self) -> str:
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "BTrDBHttpServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    # ------------------------------------------------------------ dispatch --

    def _dispatch(self, h: BaseHTTPRequestHandler) -> None:
        path = h.path.rstrip("/")
        if not path.startswith("/v5/"):
            h.send_error(404, "endpoint is /v5/<Method>")
            return
        method = path[len("/v5/"):]
        fn = getattr(self, f"rpc_{method}", None)
        if fn is None:
            h.send_error(404, f"no such RPC: {method}")
            return
        n = int(h.headers.get("Content-Length", 0))
        try:
            req = json.loads(h.rfile.read(n) or b"{}")
        except json.JSONDecodeError:
            h.send_error(400, "body must be JSON")
            return
        # Read RPCs share the lock and mutating RPCs hold it alone, so a
        # facade mutation never runs while a read is inside the facade.
        # The lock covers the RPC call and — for streaming RPCs — only the
        # LAUNCH of the result iteration (planning, facade/version reads,
        # the first page), never the client drain: results page out via
        # toLocalIterator AFTER the lock is released, so (a) a slow client
        # cannot wedge the server and (b) a result bigger than driver
        # memory streams in bounded space instead of materializing under
        # toPandas. A facade mutation that lands mid-drain is the same
        # documented residual race as any scan vs. compaction: the planned
        # generation's files outlive one compaction (two-generation
        # retention). ANY exception — not just BTrDBError — becomes a
        # coded stat payload: "errors are a payload, not a dead socket"
        # is the wire contract, and a TypeError from a wrong-typed JSON
        # field must not reset the connection.
        stream = first = None
        lock = self._lock.read if method in _READ_RPCS else self._lock.write
        with lock():
            try:
                out = fn(req)
                if hasattr(out, "__next__"):  # streaming RPC -> ndjson
                    stream = out
                    try:
                        first = next(stream)  # job launch, under the lock
                    except StopIteration:
                        stream, out = None, {"stat": _OK}
                    except BTrDBError as e:
                        stream = None
                        out = {"stat": {"code": e.code, "msg": str(e)}}
            except BTrDBError as e:
                stream = None
                out = {"stat": {"code": e.code, "msg": str(e)}}
            except KeyError as e:
                stream = None
                out = {"stat": {"code": 400, "msg": f"missing field {e}"}}
            except Exception as e:  # noqa: BLE001 — wire boundary
                stream = None  # a launch failure answers as a unary payload
                out = {"stat": {"code": 500, "msg": repr(e)}}
        if stream is not None and isinstance(first, (bytes, bytearray)):
            # Arrow IPC bulk lane (rpc_Arrow*): raw binary chunks. Errors
            # at plan/launch time were already answered as a JSON stat
            # payload above. A MID-DRAIN failure must not masquerade as a
            # clean end of stream: every yielded chunk is a complete IPC
            # message, so a truncated-but-terminated chunked body parses
            # as a valid (short) table. On any drain error the chunked
            # terminator is withheld and the connection closed — the
            # client's HTTP layer raises "incomplete chunked read", the
            # binary lane's analog of the ndjson lane's error stat line.
            h.send_response(200)
            h.send_header("Content-Type", "application/vnd.apache.arrow.stream")
            h.send_header("Transfer-Encoding", "chunked")
            h.end_headers()

            def wchunk(b: bytes) -> None:
                h.wfile.write(f"{len(b):x}\r\n".encode() + b + b"\r\n")

            try:
                wchunk(first)
                for b in stream:
                    wchunk(b)
                h.wfile.write(b"0\r\n\r\n")
            except Exception:  # noqa: BLE001 — abort, never fake-complete
                h.close_connection = True
            return
        if stream is not None:
            h.send_response(200)
            h.send_header("Content-Type", "application/x-ndjson")
            h.send_header("Transfer-Encoding", "chunked")
            h.end_headers()

            def write_msg(msg) -> None:
                enc = msg if isinstance(msg, _PreEncoded) else json.dumps(msg)
                line = enc.encode() + b"\n"
                h.wfile.write(f"{len(line):x}\r\n".encode() + line + b"\r\n")

            # Socket-level failures (client went away) are terminal for
            # the whole drain: reporting an error to a dead socket just
            # raises again out of _dispatch, so the outer guard closes the
            # connection instead. Engine errors stay inner and are still
            # reported as a stat message on a LIVE socket.
            try:
                write_msg(first)
                try:
                    for msg in stream:
                        write_msg(msg)
                except BTrDBError as e:
                    write_msg({"stat": {"code": e.code, "msg": str(e)}})
                except Exception as e:  # noqa: BLE001 — wire boundary
                    write_msg({"stat": {"code": 500, "msg": repr(e)}})
                h.wfile.write(b"0\r\n\r\n")
            except OSError:
                h.close_connection = True
            return
        body = json.dumps(out).encode()
        h.send_response(200)
        h.send_header("Content-Type", "application/json")
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)

    # ------------------------------------------------------- value mappers --

    def _versions(self, uuid: str) -> dict:
        major, minor = self.db.query_version(uuid)
        return {"versionMajor": major, "versionMinor": minor}

    def _stream_df(self, df, uuid: str, row_fn, values_key: str = "values",
                   batch: int = STREAM_BATCH):
        """Yield proto-shaped streamed messages, `batch` values each.

        Rows arrive through `toLocalIterator(prefetchPartitions=True)` —
        the driver holds at most a couple of PARTITIONS, never the whole
        result, so a RawValues over a year of data streams in bounded
        memory exactly like the reference's 5000-point channel loop
        (serve.go:141-179). Version metadata is captured EAGERLY (facade
        state, read under the request lock at call time); the generator
        body then only pulls from immutable planned scans, so the
        dispatcher can release the lock before draining pages to the
        client socket."""
        ver = self._versions(uuid) if uuid is not None else {}

        def gen():
            page, emitted = [], False
            for r in df.toLocalIterator(prefetchPartitions=True):
                page.append(row_fn(r))
                if len(page) >= batch:
                    yield {"stat": _OK, **ver, values_key: page}
                    page, emitted = [], True
            if page or not emitted:
                yield {"stat": _OK, **ver, values_key: page}

        return gen()

    def _stream_df_fragments(self, df, uuid: str, cols: list,
                             values_key: str = "values",
                             batch: int = STREAM_BATCH):
        """_stream_df for the single-stream read RPCs, with the pages built
        in the JVM so the driver does O(pages) work, not O(points):

        - each row is rendered to its JSON object fragment with
          to_json(struct(cols));
        - monotonically_increasing_id() numbers the rows in answer order:
          the partition index in the upper 31 bits, the row's place in
          its sorted partition in the lower 33. The page key keeps the
          partition bits and divides the row bits by `batch`;
        - listagg(j, ',') WITHIN GROUP (ORDER BY id) joins each page's
          fragments in that order, and the pages are sorted by key.

        Over a one-partition read (store.fits_one_task) all of it runs in
        the read's own stage: the aggregation and the sort plan no
        exchange, so the RPC stays one Spark job, with no Python worker,
        and every page holds exactly `batch` values except the last (the
        reference's 5000 is the batch size, serve.go:63-68). A larger read
        keeps its partitions and pays an exchange for the pages, each
        partition's last page may be short, and the pages reach the
        driver through toLocalIterator one partition at a time, in
        bounded memory. An empty answer is one empty page. Null struct
        fields are omitted, matching proto3 JSON (absent = default) —
        e.g. a Windows count=0 hole carries no min/mean/max."""
        from pyspark.sql import functions as F

        ver = self._versions(uuid) if uuid is not None else {}
        head = json.dumps({"stat": _OK, **ver})[:-1] + f', "{values_key}": ['
        pages = (
            df.select(
                F.monotonically_increasing_id().alias("_id"),
                F.to_json(F.struct(*cols)).alias("j"),
            )
            .groupBy(
                F.expr(
                    f"shiftleft(shiftright(_id, 33), 33)"
                    f" + (_id & {(1 << 33) - 1}) div {batch}"
                ).alias("page")
            )
            .agg(F.expr("listagg(j, ',') WITHIN GROUP (ORDER BY _id)").alias("text"))
            .orderBy("page")
            .select("text")
        )

        def gen():
            emitted = False
            for r in pages.toLocalIterator(prefetchPartitions=True):
                yield _PreEncoded(head + r[0] + "]}")
                emitted = True
            if not emitted:
                yield _PreEncoded(head + "]}")

        return gen()

    # ------------------------------------------------------------ the RPCs --

    def rpc_RawValues(self, req):
        df = self.db.raw_values(
            req["uuid"], req["start"], req["end"], req.get("versionMajor") or None
        )
        return self._stream_df_fragments(df, req["uuid"], ["time", "value"])

    def rpc_AlignedWindows(self, req):
        df = self.db.aligned_windows(
            req["uuid"], req["start"], req["end"], req["pointWidth"],
            req.get("versionMajor") or None,
        )
        return self._stream_df_fragments(df, req["uuid"], _STAT_COLS)

    def rpc_Windows(self, req):
        df = self.db.windows(
            req["uuid"], req["start"], req["end"], req["width"],
            req.get("depth", 0), req.get("versionMajor") or None,
        )
        return self._stream_df_fragments(df, req["uuid"], _STAT_COLS)

    def rpc_ArrowRawValues(self, req):
        """EXTENSION (not in btrdb.proto): bulk raw export as ONE Arrow IPC
        stream — the binary data-plane lane the JSON wire deliberately is
        not. Same request shape as RawValues; response is
        application/vnd.apache.arrow.stream with columns (time int64,
        value float64). See _arrow_ipc_chunks for the bounded-memory
        production pipeline."""
        df = self.db.raw_values(
            req["uuid"], req["start"], req["end"], req.get("versionMajor") or None
        )
        return _arrow_ipc_chunks(df.select("time", "value"))

    def rpc_ArrowAlignedWindows(self, req):
        """EXTENSION: AlignedWindows as an Arrow IPC stream (time, min,
        mean, max, count) — bulk stat export for dashboards/exports."""
        df = self.db.aligned_windows(
            req["uuid"], req["start"], req["end"], req["pointWidth"],
            req.get("versionMajor") or None,
        )
        return _arrow_ipc_chunks(df.select("time", "min", "mean", "max", "count"))

    def rpc_StreamInfo(self, req):
        info = self.db.stream_info(req["uuid"])
        out = {"stat": _OK, **self._versions(req["uuid"])}
        if not req.get("omitDescriptor"):
            out["descriptor"] = _descriptor(info)
        return out

    def rpc_SetStreamAnnotations(self, req):
        self.db.set_stream_annotations(
            req["uuid"],
            req["expectedAnnotationVersion"],
            _from_kv(req.get("annotations")),
        )
        return {"stat": _OK}

    def rpc_Create(self, req):
        self.db.create(
            req["uuid"], req["collection"],
            _from_kv(req.get("tags")), _from_kv(req.get("annotations")),
        )
        return {"stat": _OK}

    def rpc_ListCollections(self, req):
        df = self.db.list_collections(
            req.get("prefix", ""), req.get("startWith", ""), req.get("limit") or 1000
        )
        return {
            "stat": _OK,
            "collections": [r.collection for r in df.collect()],
        }

    def rpc_LookupStreams(self, req):
        df = self.db.lookup_streams(
            req.get("collection", ""),
            req.get("isCollectionPrefix", True),
            _from_kv(req.get("tags")) or None,
            _from_kv(req.get("annotations")) or None,
        )
        return self._stream_df(
            df.orderBy("uuid"), None, lambda r: _descriptor(r.asDict()),
            values_key="results", batch=LOOKUP_BATCH,
        )

    def rpc_Nearest(self, req):
        df = self.db.nearest(
            req["uuid"], req["time"], req.get("backward", False),
            req.get("versionMajor") or None,
        )
        rows = df.collect()
        if not rows:
            return {"stat": {"code": ERR_NO_SUCH_POINT, "msg": "no such point"}}
        return {
            "stat": _OK,
            **self._versions(req["uuid"]),
            "value": {"time": rows[0].time, "value": rows[0].value},
        }

    def rpc_Changes(self, req):
        df = self.db.changes(
            req["uuid"], req.get("fromMajor", 0), req["toMajor"],
            req.get("resolution", 0),
        )
        return self._stream_df_fragments(
            df, req["uuid"], ["start", "end"],
            values_key="ranges", batch=RANGE_BATCH,
        )

    def rpc_Insert(self, req):
        self.db.insert(
            req["uuid"], [(p["time"], p["value"]) for p in req.get("values", [])]
        )
        if req.get("sync"):
            self.db.flush(req["uuid"])
        return {"stat": _OK, **self._versions(req["uuid"])}

    def rpc_Delete(self, req):
        self.db.delete(req["uuid"], req["start"], req["end"])
        return {"stat": _OK, **self._versions(req["uuid"])}

    def rpc_Info(self, req):
        info = self.db.info()
        return {
            "stat": _OK,
            "majorVersion": info["majorVersion"],
            "minorVersion": info["minorVersion"],
            "build": info["build"],
            "proxy": info["proxy"],
        }

    def rpc_FaultInject(self, req):
        if not self._enable_fault_inject:
            # serve.go:797-822: disabled unless explicitly enabled at boot
            return {"stat": {"code": 500, "msg": "fault injection disabled"}}
        return {"stat": _OK, "rv": req.get("params", "")}

    def rpc_Flush(self, req):
        self.db.flush(req["uuid"])
        return {"stat": _OK, **self._versions(req["uuid"])}

    def rpc_Obliterate(self, req):
        self.db.obliterate(req["uuid"])
        return {"stat": _OK}

    def rpc_GetMetadataUsage(self, req):
        tags, anns = self.db.get_metadata_usage(req.get("prefix", ""))
        return {
            "stat": _OK,
            "tags": [{"key": r.key, "count": r.cnt} for r in tags.collect()],
            "annotations": [{"key": r.key, "count": r.cnt} for r in anns.collect()],
        }

    def rpc_GenerateCSV(self, req):
        if "streams" in req:
            return self._generate_csv_proto(req)
        # Legacy convenience shape (pre-r9): uuids/start/end/pointWidth on
        # the facade's shared-version alignment. Kept for embedded callers;
        # proto-faithful clients send GenerateCSVParams above.
        uuids = req["uuids"]
        df = self.db.generate_csv(
            uuids, req["start"], req["end"], req.get("pointWidth") or None,
            req.get("versionMajor") or None,
        )
        cols = df.columns

        def gen():
            # header message first, then one message per row — the
            # reference's GenerateCSVResponse is likewise one row each
            # (isHeader page + row pages, csv.go)
            yield {"stat": _OK, "isHeader": True, "row": cols}
            for r in df.toLocalIterator(prefetchPartitions=True):
                yield {
                    "stat": _OK,
                    "isHeader": False,
                    "row": [
                        "" if v is None or v != v else str(v) for v in r
                    ],
                }

        return gen()

    def _generate_csv_proto(self, req):
        """GenerateCSVParams exactly as btrdb.proto:269-282 / serve.go:880-
        1007: queryType in {ALIGNED_WINDOWS_QUERY=0, WINDOWS_QUERY=1,
        RAW_QUERY=2}, startTime/endTime/windowSize/depth/includeVersions,
        and per-stream {uuid, label, version} configs (version 0 = latest).
        ALIGNED_WINDOWS_QUERY takes its pointWidth from `depth`, matching
        serve.go:908. The reference's earliest-time cursor merge becomes a
        full outer join on the time column — each stream may be pinned at
        its own version, so per-stream scans are planned independently and
        Spark co-sorts them; rows page out via toLocalIterator."""
        from datetime import datetime, timezone
        from functools import reduce

        from pyspark.sql import functions as F

        qt = req.get("queryType", 0)
        if isinstance(qt, str):
            qt = {"ALIGNED_WINDOWS_QUERY": 0, "WINDOWS_QUERY": 1,
                  "RAW_QUERY": 2}[qt]
        start, end = req["startTime"], req["endTime"]
        streams = req["streams"]
        header = ["Timestamp (ns)", "Human-Readable Time (UTC)"]
        dfs, fmts = [], []  # fmts: (column name, formatter) per value col
        for i, cfg in enumerate(streams):
            u = cfg["uuid"]
            ver = cfg.get("version") or None
            label = cfg.get("label") or u
            if req.get("includeVersions"):
                # version lookup only when the header shows it — latest-
                # version resolution is a manifest read per stream and the
                # value is otherwise unused
                shown = ver if ver is not None else self.db.query_version(u)[0]
                vstr = f", ver. {shown}"
            else:
                vstr = ""
            if qt == 2:  # RAW_QUERY
                df = self.db.raw_values(u, start, end, ver).select(
                    "time", F.col("value").alias(f"_s{i}")
                )
                header.append(f"{label}{vstr}")
                fmts.append((f"_s{i}", lambda v: f"{float(v):f}"))
            else:
                if qt == 0:  # ALIGNED_WINDOWS_QUERY: pw rides in `depth`
                    df = self.db.aligned_windows(
                        u, start, end, req.get("depth", 0), ver
                    )
                else:  # WINDOWS_QUERY
                    df = self.db.windows(
                        u, start, end, req["windowSize"],
                        req.get("depth", 0), ver,
                    )
                df = df.select(
                    "time",
                    F.col("min").alias(f"_s{i}_min"),
                    F.col("mean").alias(f"_s{i}_mean"),
                    F.col("max").alias(f"_s{i}_max"),
                    F.col("count").alias(f"_s{i}_count"),
                )
                for part in ("Min", "Mean", "Max", "Count"):
                    header.append(f"{label}{vstr} ({part})")
                for part in ("min", "mean", "max"):
                    fmts.append((f"_s{i}_{part}", lambda v: f"{float(v):f}"))
                fmts.append((f"_s{i}_count", lambda v: str(int(v))))
            dfs.append(df)
        joined = reduce(
            lambda a, b: a.join(b, "time", "full_outer"), dfs
        ).orderBy("time")

        def rfc3339(ns: int) -> str:
            return datetime.fromtimestamp(
                ns // 1_000_000_000, tz=timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")

        def gen():
            yield {"stat": _OK, "isHeader": True, "row": header}
            for r in joined.toLocalIterator(prefetchPartitions=True):
                t = int(r["time"])
                row = [str(t), rfc3339(t)]
                for col, fmt in fmts:
                    v = r[col]
                    row.append("" if v is None or v != v else fmt(v))
                yield {"stat": _OK, "isHeader": False, "row": row}

        return gen()


_STAT_COLS = ["time", "min", "mean", "max", "count"]


class _ChunkSink:
    """Minimal file-like sink for pyarrow's stream writer that hands back
    whatever was written since the last pop() — lets one LOGICAL IPC
    stream be flushed to the HTTP socket batch by batch."""

    closed = False

    def __init__(self):
        self._chunks: list = []

    def write(self, data) -> int:
        b = bytes(data)
        self._chunks.append(b)
        return len(b)

    def flush(self) -> None:
        pass

    def close(self) -> None:
        self.closed = True

    def pop(self) -> bytes:
        out = b"".join(self._chunks)
        self._chunks = []
        return out


def _arrow_ipc_chunks(df):
    """Yield one Arrow IPC stream as raw byte chunks, produced with
    O(batches) driver work and bounded memory:

    - executors serialize their Arrow record batches to IPC bytes inside
      the scan job (mapInArrow — the per-point work never touches the
      driver);
    - the driver re-frames them into a single logical stream (schema
      message once, then batch messages, then EOS): open_stream on each
      executor blob is zero-copy, write_batch is a memcpy.

    This is the wire's DATA-PLANE lane: binary columnar like the
    reference's protobuf stream, bit-exact doubles, no client-side JSON
    parse. Measured 1.2-1.7 Mpts/s at 20M points (~2x the ndjson lane;
    the remaining bound is the single driver socket every wire funnels
    through — same shape as one gRPC egress stream in the reference).
    TRUE bulk export belongs on the DataFrame surface (df.write), which
    never funnels through a driver; this lane exists so wire-only
    clients get a binary columnar option."""
    import pyarrow as pa

    def ser(batches):
        for b in batches:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, b.schema) as w:
                w.write_batch(b)
            yield pa.record_batch(
                [pa.array([sink.getvalue().to_pybytes()], type=pa.binary())],
                names=["ipc"],
            )

    blobs = df.mapInArrow(ser, "ipc binary")

    def gen():
        sink = _ChunkSink()
        writer = None
        for r in blobs.toLocalIterator(prefetchPartitions=True):
            for b in pa.ipc.open_stream(r["ipc"]):
                if writer is None:
                    writer = pa.ipc.new_stream(sink, b.schema)
                writer.write_batch(b)
                chunk = sink.pop()
                if chunk:
                    yield chunk
        if writer is None:
            # Empty result: still a VALID stream — schema then EOS, so a
            # client's open_stream yields zero batches instead of failing.
            from pyspark.sql.pandas.types import to_arrow_schema

            writer = pa.ipc.new_stream(sink, to_arrow_schema(df.schema))
        writer.close()
        chunk = sink.pop()
        if chunk:
            yield chunk

    return gen()
