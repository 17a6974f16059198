"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds a store from a seeded corpus, runs
one workload (``serve`` or ``ingest``, see ``workloads.py``) for
``--seconds``, checks every answer against the
DuckDB oracle and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a run that records
spans and reads Spark's counters (spans go to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = contract()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "jtmp"), exist_ok=True)
    os.environ["TMPDIR"] = work
    sys.path.insert(0, ROOT)

    import harness
    import workloads as W

    t_run = time.perf_counter()
    b = W.Bench(args.workload, args.seed, args.seconds, work, bool(args.trace))
    if b.trace:
        b.tracer = harness.Tracer()
    try:
        with b.span("run"):
            W.WORKLOADS[args.workload](b)
    finally:
        W.stop_session(b)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    b.info["run_wall_s"] = time.perf_counter() - t_run

    for k, v in {**b.e2e, **b.info}.items():
        print(f"{args.workload} {k} = {v}")
    print(f"{args.workload} fail_ratio = {b.ledger.ratio} "
          f"({b.ledger.failed}/{b.ledger.attempted})")
    print(f"{args.workload} settings = {json.dumps(W.settings(), sort_keys=True)}")

    if b.trace:
        bp = harness.blocking_path(b.tracer.spans)
        b.layer["trace.residual_share"] = bp["residual_s"] / bp["wall_s"]
        for k in ("setup_s", "latency_p50_ms", "throughput_per_s"):
            b.layer[f"traced.{k}"] = b.e2e[k]
        for name, s in sorted(bp["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"{args.workload} self_s {name} = {s:.4f}")
        print(f"{args.workload} blocking wall_s = {bp['wall_s']:.4f} "
              f"residual_s = {bp['residual_s']:.4f}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": [s.__dict__ for s in b.tracer.spans],
                       "blocking_path": bp, "layer": b.layer, "e2e": b.e2e,
                       "info": b.info}, fh, indent=1)

    wanted = spec["per_layer"] if b.trace else spec["end_to_end"]
    values = b.layer if b.trace else b.e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            print(f"missing metric {m['name']}", file=sys.stderr)
            return 2
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    for msg in b.ledger.messages:
        print(f"{args.workload} failed: {msg}")
    print(json.dumps({"correct": b.ledger.failed == 0, "attempted": b.ledger.attempted,
                      "failed": b.ledger.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    # one string-hash seed for every run, so set and dict orders in the
    # engine's driver-side planning repeat from process to process
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
