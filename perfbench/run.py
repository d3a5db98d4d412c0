"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Prints a human-readable report on stderr and, as the last line of stdout,
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json when ``--trace 0``,
its per-layer metrics when ``--trace 1``. A per-layer metric whose layer
the workload does not pass through reads 0. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import common as C

WORKLOADS = ("spark-point", "ingest")


def ensure_inputs() -> tuple[str, float]:
    """The cached inputs, built by a child process when missing. Returns the
    cache directory and the seconds spent building it (excluded from
    setup_s)."""
    cdir = C.cache_dir()
    if os.path.exists(os.path.join(cdir, "meta.json")):
        return cdir, 0.0
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(C.BENCH_DIR, "prepare.py")],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()[-1]
    return out, time.time() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(C.ROOT, "BENCHMARK.json")
    if not C.engine_available() or not os.path.isfile(spec_path):
        C.log(f"perfbench: no engine package '{C.ENGINE_PKG}' or BENCHMARK.json "
              f"under {C.ROOT}; nothing to measure")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    C.use_repo_imports()
    cdir, prep_s = ensure_inputs()

    if args.workload == "spark-point":
        import spark_point as wl
    else:
        import ingest as wl
    res = wl.run(cdir, args.seed, args.seconds, bool(args.trace), prep_s)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.e2e if not args.trace else res.layer
    missing = [m["name"] for m in wanted if not args.trace and m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in wanted}

    C.log(f"\n== perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    C.log("host: " + json.dumps(res.host))
    for line in res.notes:
        C.log("  " + line)
    for m in wanted:
        C.log(f"  {m['name']:<28} {metrics[m['name']][0]:>14.6g} {m['unit']}")
    C.log(f"  {'error_rate':<28} {res.failed / max(res.attempted, 1):>14.6g} "
          f"({res.failed} failed of {res.attempted} attempted)")
    print(C.result_line(res.failed == 0, res.attempted, res.failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
