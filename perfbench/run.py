"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,ingest,analytics} --seed N \
        --seconds S --trace {0,1}

Runs one workload through the engine's public entry points, checks its
outputs, writes a result file under .bench_out/results/ and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end_to_end metrics of BENCHMARK.json; with --trace 1
they are its per_layer metrics, taken with spans around each layer's
public functions (layers a workload does not exercise report 0).

Exits non-zero, printing no result line, when the engine cannot be
imported or the run fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import OUT, REPO, cpu_stat, log, steal_pct, write_json  # noqa: E402

WORKLOADS = ("serve", "ingest", "analytics")
# serve and ingest runs must end within 180 s; analytics is run by hand.
RUN_TIMEOUT_S = {"serve": 175, "ingest": 175, "analytics": 600}


def _timeout(_sig, _frame):
    raise TimeoutError("run exceeded its time limit")


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    return importlib.import_module(f"perfbench.{name}").run(seed, seconds, trace)


def result_line(spec: dict, res: dict, trace: bool) -> dict:
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        src = res["layers"] if trace else res["e2e"]
        metrics[m["name"]] = {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        spec = load_spec()
        import btrdb_server_spark  # noqa: F401 — the engine under test
    except (OSError, ImportError, ValueError) as e:
        log(f"benchmark cannot run here: {e!r}")
        return 2

    trace = bool(args.trace)
    st0, t0 = cpu_stat(), time.time()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_TIMEOUT_S[args.workload])
    try:
        res = run_workload(args.workload, args.seed, args.seconds, trace)
    except Exception:  # noqa: BLE001 — top level: report and fail
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    res["layers"]["error_rate"] = res["failed"] / res["attempted"]
    line = result_line(spec, res, trace)
    path = os.path.join(
        OUT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}.json"
    )
    write_json(path, {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "result": line,
        "end_to_end": res["e2e"],
        "per_layer": res["layers"] if trace else {},
        "layer_self_s": res.get("layer_self_s", {}),
        "latency": res["latency"],
        "errors": res["errors"],
        "detail": res.get("detail", {}),
        "host": {
            "anchor_s": res["anchor_s"],
            "steal_pct": steal_pct(st0, cpu_stat()),
            "nproc": os.cpu_count(),
            "wall_s": time.time() - t0,
        },
    })
    spans = os.path.join(res["workdir"], "spans.json")
    if os.path.exists(spans):
        os.replace(spans, path[:-5] + "-spans.json")
    shutil.rmtree(res["workdir"], ignore_errors=True)
    if res["errors"]:
        log("errors:", *res["errors"], sep="\n  ")
    log(f"result file: {os.path.relpath(path, REPO)}")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
