"""Benchmark entry point: one workload per process.

    python3 mrfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each exists; config.json records the
serving rate, latency limit and endpoint mix, and the catalog entries):

* ``serve_dashboard`` - a raw MRF batch through ``ingest_batch``, NPI
  dims and MV refresh (the cold phase), then dashboard requests on
  ``serve(RateAPI(lake))``: a back-to-back burst, and an open loop for
  the run's seconds (the warm phase).
* ``catalog_sweep`` - operator-catalog entries through
  ``queries()[name]`` -> ``toPandas``, one cold sweep then warm sweeps
  until the run's seconds are spent, checked against their DuckDB
  oracles.

Each run starts its own Spark session sized to the machine through the
package's ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` variables,
generates its inputs from ``--seed`` under ``.mrfbench_work/`` in the
checkout, checks its outputs, and prints, as the last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (in-memory spans around the package's public functions plus
Spark's status tracker and UI REST stage metrics, and the traced run's
own end-to-end figures as ``traced.*`` for the tracing overhead). A
detail line before it carries each workload's own figures (ingest rows/s,
refresh time, p50/p95 and the share within the latency limit, catalog
cold/warm sums, leaked RDDs), the session sizing and the noise record
(wall, Python/JVM/executor CPU, CPU-steal ticks at start and end).

End-to-end metrics, the same names on every workload (serve / catalog):

* ``setup_s`` - session start and input generation (median of three).
* ``peak_rss_mb`` - peak resident memory of the Python driver plus the
  driver JVM at the end of the timed region.
* ``cold_s`` - the first pass in a fresh process: lake build (batch,
  NPI dims, MV refresh) / the cold catalog sweep.
* ``warm_ms`` - the burst's milliseconds per request / one warm sweep
  (sum of each entry's median warm execution).

The open loop's median and 95th-percentile latency and its share within
the latency limit are on the detail line only: their spread between
seeds exceeded the largest bound a metric may have.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402

WORKLOADS = ("serve_dashboard", "catalog_sweep")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sizing = common.box()
    os.environ.update(sizing)
    if not (common.ROOT / "mrf_etl_spark").is_dir():
        print(f"mrf_etl_spark not found under {common.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(common.ROOT))
    noise = common.Noise()
    wd = common.Workdir(args.workload)
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
    if args.workload == "serve_dashboard":
        import serve as workload
    else:
        import catalog as workload
    try:
        out = workload.run(args.seed, args.seconds, wd, tracer)
        record = noise.record(out["jvm_pid"], out["executor_cpu_s"])
    finally:
        try:
            if tracer is not None:
                tracer.restore()
            if "pyspark" in sys.modules:
                common.stop_session()
        finally:
            wd.remove()
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizing": sizing,
        "noise": record,
        **out["detail"],
    }
    if tracer is not None:
        detail["spans"] = len(tracer.spans)
    print(json.dumps({"detail": detail}, default=str))
    if tracer is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    else:
        metrics = {
            k: {"value": out["layers"].get(k, 0.0), "unit": u}
            for k, u in common.LAYER_UNITS.items()
        }
        metrics.update(
            {f"traced.{k}": {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
        )
        metrics["trace.spans"] = {"value": len(tracer.spans), "unit": "count"}
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
