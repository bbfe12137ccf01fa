"""Distributor benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload ingest_verify --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics read from
spans and Spark's own counters (those both workloads call). The line
before it holds the workload's named figures (``commit_p50_s``,
``ingest_rows_per_s``, ``serve_rps``, ``fresh_lag_p50_s`` ...), each tail
percentile with its sample count, ``failed_frac``, the core count and the
load calibration; a traced run adds every per-layer metric with the
figures it should move, and the tracing overhead against the last
untraced run of the same workload in this checkout. Spans are written to
``.perfbench_work/<workload>/spans.json``.

Every run starts from an empty ``.perfbench_work/<workload>``, with the
engine pinned to half the machine's cores and its scratch kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import E2E_UNITS, LAYERS, ROOT, Run, write_json  # noqa: E402

WORKLOADS = ("ingest_verify", "serve_under_ingest")


def main(argv=None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine is built from the checkout's own sources; without them
    # there is nothing to measure.
    sys.path.insert(0, ROOT)
    try:
        import petfinder_database_distributor_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    if args.workload == "ingest_verify":
        import ingest as workload
    else:
        import serve as workload

    r = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    r.prepare()
    try:
        with r.rss:
            e2e = workload.run(r)
            r.calibrate()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            r.stop_spark()
        except Exception:  # noqa: BLE001 -- the result is still printed
            traceback.print_exc()
    # Memory held while the timed operations ran: the median is steady
    # from run to run, where the peak follows single GC and decode spikes.
    e2e["rss_mb"] = r.rss.median_mb(*r.timed)
    r.detail["peak_rss_mb"] = r.rss.peak_mb
    if r.errors:
        r.detail["errors"] = r.errors
    last_untraced = os.path.join(r.work, "..", f"{args.workload}.untraced.json")
    if r.traced:
        if os.path.exists(last_untraced):
            with open(last_untraced) as fh:
                base = json.load(fh)
            r.detail["tracing_overhead"] = {k: e2e[k] - base[k] for k in E2E_UNITS}
        r.detail["layers"] = {
            k: {"value": r.layers[k], "unit": unit, "moves": moves, "workloads": where}
            for k, (unit, moves, where) in LAYERS.items()
        }
        r.tracer.write(os.path.join(r.work, "spans.json"), {"detail": r.detail})
    else:
        write_json(last_untraced, {k: e2e[k] for k in E2E_UNITS})
    r.detail["end_to_end"] = {k: e2e[k] for k in E2E_UNITS}
    r.detail["failed_frac"] = r.failed / max(r.attempted, 1)
    r.detail["run_s"] = time.perf_counter() - t_main
    print(json.dumps({"detail": r.detail}, default=str))
    print(json.dumps(r.result(e2e)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
