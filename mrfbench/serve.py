"""serve_dashboard: the write path, then the read path of the same lake.

Cold phase: the seeded raw MRF batch goes through ``ingest_batch`` into
an empty lake; then ``ingest_npi_dims``, the procedure-category dim and
the serving MVs (search index plus the rollup MVs) make the lake
servable. Warm phase: from one client process to
``serve(RateAPI(lake))``, a burst of dashboard requests sent back to back
(timed per request), then the rest of the same request stream on an
open-loop Poisson schedule, each request's latency running from its due
time.

Correctness (outside the timed phases): every table's row count equals
what the generator implies, every table's ``TABLE_KEYS`` are unique,
every response is 200, and a seeded sample of responses equals the
envelopes served from an un-materialized ``StarLake.load`` of the same
lake.
"""

from __future__ import annotations

import http.client
import json
import math
import random
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import common
import gen

CFG = common.CONFIG["serve_dashboard"]
# the burst: the head of the request stream sent back to back over the
# load's connections, timed as milliseconds per request. It also warms
# the server for the open loop: a fresh server keeps getting faster for a
# few hundred requests (JIT), and without a warm-up the first half of
# the open loop read up to twice the second half's median
BURST_REQUESTS = 60
TAIL_PERCENTILE = 95
CHECKED_BODIES = 2  # replies compared with the un-materialized lake
# StarLake methods the request mix reaches (plan construction)
LAKE_ENDPOINTS = [
    "search_rollup", "category_rollup", "category_statistics", "rate_summary",
    "rates_by_payer", "autocomplete_values",
]
MATERIALIZE = [
    "materialize_search_index", "materialize_search_rollups",
    "materialize_category_stats", "materialize_category_rollups",
]


def install_trace(tracer, memo_counts: dict) -> None:
    from mrf_etl_spark import session
    from mrf_etl_spark.io import writers
    from mrf_etl_spark.plans import ingest, queries
    from mrf_etl_spark.serving import api

    tracer.wrap_function(session, "get_spark", "session")
    tracer.wrap_function(ingest, "ingest_batch", "ingest")
    tracer.wrap_function(ingest, "ingest_npi_dims", "ingest")
    tracer.wrap_function(writers, "append_unique", "writers")  # also binds upsert_by_key
    tracer.wrap_function(
        writers, "atomic_overwrite", "writers",
        after=lambda args, kw, out: {"bytes": _du(kw.get("path", args[1] if len(args) > 1 else ""))},
    )
    tracer.wrap_lock(writers, "table_lock", "writers.lock_wait")
    tracer.wrap_methods(queries.StarLake, LAKE_ENDPOINTS + MATERIALIZE, "queries")
    memo = queries.StarLake.__dict__["_memo_plan"]

    def counted_memo(self, key, build):
        hit = key in (getattr(self, "_plan_cache", None) or {})
        memo_counts["hit" if hit else "miss"] += 1
        return memo(self, key, build)

    tracer._set(queries.StarLake, "_memo_plan", counted_memo)
    tracer.wrap_methods(
        api.RateAPI,
        [n for n, v in vars(api.RateAPI).items() if callable(v) and not n.startswith("_")],
        "api",
    )
    tracer.wrap_function(api, "_rows", "api")
    tracer.wrap_function(api, "_one", "api")


def _du(path: str) -> int:
    p = Path(path)
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.exists() else 0


def _files(path: Path) -> int:
    return sum(1 for f in path.rglob("*.parquet") if f.is_file())


def _get(port: int, path: str) -> tuple[int, object]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def _same(a, b) -> bool:
    """Envelope equality; money values may differ by the last rounded
    cent because MV and live aggregation sum in different orders."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and abs(a - b) <= 0.0100001
    return a == b


def build_lake(spark, batch: gen.Batch, files, lake_dir: str, mv_dir: str):
    """Ingest the batch, then refresh the NPI dims, the category dim and
    the serving MVs. Returns the MV-backed lake and the phase record."""
    from pyspark.sql import functions as F

    from mrf_etl_spark.functions.categorizer import categorize_expr
    from mrf_etl_spark.io import writers
    from mrf_etl_spark.operators import nppes_dims
    from mrf_etl_spark.plans import ingest, queries

    rp, pp, _ = files
    t0 = time.perf_counter()
    counts = ingest.ingest_batch(
        spark, spark.read.parquet(rp), spark.read.parquet(pp), lake_dir,
        ingest.IngestConfig(state=gen.STATE),
    )
    t1 = time.perf_counter()
    ingest.ingest_npi_dims(spark, nppes_dims.synthetic_npi_payloads(spark, batch.npis), lake_dir)
    codes = spark.read.parquet(f"{lake_dir}/dim_code").select(F.col("code").alias("proc_cd")).distinct()
    writers.atomic_overwrite(
        codes.select("proc_cd", *[
            categorize_expr(F.col("proc_cd"), level).alias(name)
            for level, name in enumerate(["proc_set", "proc_class", "proc_group"])
        ]),
        f"{lake_dir}/dim_code_cat",
    )
    mv = queries.StarLake.load(spark, lake_dir).materialize_search_index(f"{mv_dir}/index")
    mv2 = (
        mv.materialize_search_rollups(f"{mv_dir}/rollups", search_types=["payer", "billing_code"])
        .materialize_category_stats(f"{mv_dir}/stats")
        .materialize_category_rollups(f"{mv_dir}/categories", categories=gen.EXPLORE_CATEGORIES)
    )
    t2 = time.perf_counter()
    return mv2, {"counts": counts, "batch_s": t1 - t0, "refresh_s": t2 - t1, "cold_s": t2 - t0}


def check_lake(batch: gen.Batch, counts: dict, lake_dir: str) -> list[str]:
    """Counts against the generator and key uniqueness of every table,
    read straight from the lake's Parquet."""
    import pyarrow.parquet as pq

    from mrf_etl_spark import schemas

    problems = []
    for table, want in batch.expected.items():
        if counts.get(table) != want:
            problems.append(f"{table}: {counts.get(table)} rows, generator implies {want}")
    for table, keys in schemas.TABLE_KEYS.items():
        path = Path(lake_dir) / table
        if not path.exists():
            continue
        t = pq.read_table(path, columns=keys)
        if t.group_by(keys).aggregate([]).num_rows != t.num_rows:
            problems.append(f"{table}: duplicate {keys}")
        if table == "dim_npi" and t.num_rows != len(batch.npis):
            problems.append(f"dim_npi: {t.num_rows} rows, generator implies {len(batch.npis)}")
    return problems


def run(seed: int, seconds: float, wd: common.Workdir, tracer) -> dict:
    memo_counts = {"hit": 0, "miss": 0}
    if tracer is not None:
        install_trace(tracer, memo_counts)
    spark, session_s = common.start_session(wd, "mrfbench-serve")
    pid = common.jvm_pid(spark)
    clock = time.time() - time.perf_counter()  # perf_counter -> epoch

    batch = gen.mrf_batch(seed)
    writes = []
    for rep in range(3):
        t = time.perf_counter()
        files = gen.write_batch(batch, wd / f"raw{rep}")
        writes.append(time.perf_counter() - t)
    input_bytes = files[2]
    offered_rows = len(batch.rates)

    lake_dir, mv_dir = str(wd / "lake"), str(wd / "mv")
    mv2, rec = build_lake(spark, batch, files, lake_dir, mv_dir)

    from mrf_etl_spark.plans import queries
    from mrf_etl_spark.serving import api

    server = api.serve(api.RateAPI(mv2), port=0, block=False)
    port = server.server_address[1]
    live = None
    try:
        keys = gen.request_keys()
        client = [sys.executable, str(Path(__file__).with_name("client.py"))]
        connections = int(common.box()["SPARK_GRAFT_CPUS"])
        base = f"http://127.0.0.1:{port}"

        def load(tag: str, due: list[float], paths: list[str], keep: list[int]) -> list[dict]:
            plan = {"base": base, "connections": connections,
                    "requests": [[d, p] for d, p in zip(due, paths)], "keep_bodies": keep}
            (wd / f"{tag}.json").write_text(json.dumps(plan))
            subprocess.run([*client, str(wd / f"{tag}.json"), str(wd / f"{tag}-replies.json")],
                           check=True, timeout=max(due, default=0) + 150)
            return json.loads((wd / f"{tag}-replies.json").read_text())

        # one seeded request stream: its head is the burst, the rest
        # arrives on the open-loop schedule of the measured `seconds`
        due = gen.schedule(seed, CFG["rate_per_s"], seconds)
        stream = gen.request_mix(seed + 1, keys, BURST_REQUESTS + len(due), CFG["mix"])
        paths = stream[BURST_REQUESTS:]
        keep = sorted(random.Random(seed + 2).sample(range(len(due)), min(CHECKED_BODIES, len(due))))
        burst = load("burst", [0.0] * BURST_REQUESTS, stream[:BURST_REQUESTS], [])
        # every burst request is due at the client's start, so the last
        # latency is the burst's span
        burst_ms = max(r["latency_ms"] for r in burst) / BURST_REQUESTS
        setup_s = session_s + common.median(writes)
        load_t0 = time.perf_counter()
        replies = load("load", due, paths, keep)
        load_t1 = time.perf_counter()
        rss = common.peak_rss_mb(pid)

        # -- correctness, outside the timed phases
        problems = check_lake(batch, rec["counts"], lake_dir)
        bad = [r for r in burst + replies if r["status"] != 200]
        if len(burst) + len(replies) != BURST_REQUESTS + len(due):
            problems.append(f"{BURST_REQUESTS + len(due) - len(burst) - len(replies)} requests got no record")
        problems += [f"HTTP {r['status']} for {stream[r['i']]}" for r in burst if r["status"] != 200][:5]
        problems += [f"HTTP {r['status']} for {paths[r['i']]}" for r in replies if r["status"] != 200][:5]
        live = api.serve(api.RateAPI(queries.StarLake.load(spark, lake_dir)), port=0, block=False)
        for r in replies:
            if "body" in r:
                status, body = _get(live.server_address[1], paths[r["i"]])
                if status != 200 or not _same(r["body"], body):
                    problems.append(f"MV and live envelopes differ for {paths[r['i']]}")
    finally:
        server.shutdown()
        server.server_close()
        if live is not None:
            live.shutdown()
            live.server_close()

    lat = [r["latency_ms"] for r in replies]
    limit = CFG["latency_limit_ms"]
    ok_in_time = sum(1 for r in replies if r["status"] == 200 and r["latency_ms"] <= limit)
    stages = common.rest(spark, "stages")
    totals = common.stage_totals(stages)
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss["total"], "MB"),
        "cold_s": (rec["cold_s"], "s"),
        "warm_ms": (burst_ms, "ms"),
    }
    detail = {
        "burst_ms_per_request": burst_ms,
        "requests": len(lat),
        "tail_samples_beyond": len(lat) - math.ceil(len(lat) * TAIL_PERCENTILE / 100),
        "serve_p50_ms": common.median(lat),
        "serve_p95_ms": common.quantile(lat, 95),
        "serve_slo_share": ok_in_time / max(1, len(due)),
        "peak_rss_parts_mb": rss,
        "rate_per_s": CFG["rate_per_s"],
        "latency_limit_ms": limit,
        "ingest_rows_per_s": offered_rows / rec["batch_s"],
        "ingest_batch_s": rec["batch_s"],
        "refresh_s": rec["refresh_s"],
        "lake_bytes_per_input_byte": _du(lake_dir) / input_bytes,
        "endpoint_p50_ms": _by_endpoint(replies, paths),
        "halves_p50_ms": [common.median(lat[: len(lat) // 2]), common.median(lat[len(lat) // 2:])],
        "setup_parts_s": {"session": session_s, "inputs": common.median(writes)},
        "offered_rows": offered_rows,
        "problems": problems,
    }
    layers = None
    if tracer is not None:
        jobs = common.rest(spark, "jobs")
        layers = _layers(tracer, rec, replies, jobs, totals, clock, load_t0, load_t1,
                         memo_counts, input_bytes, offered_rows, lake_dir, session_s)
    return {
        "jvm_pid": pid,
        "correct": not problems,
        "attempted": BURST_REQUESTS + len(due) + 2,
        "failed": len(bad),
        "metrics": metrics,
        "detail": detail,
        "layers": layers,
        "executor_cpu_s": totals["executor_cpu_s"],
    }


def _by_endpoint(replies: list[dict], paths: list[str]) -> dict[str, float]:
    """Median service time (send to reply) per endpoint path."""
    groups: dict[str, list[float]] = {}
    for r in replies:
        groups.setdefault(gen.endpoint(paths[r["i"]]), []).append(r["service_ms"])
    return {k: round(common.median(v), 1) for k, v in sorted(groups.items())}


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


def _jobs_between(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    return [j for j in jobs if (ts := _epoch(j.get("submissionTime"))) is not None and t0 <= ts <= t1]


def _layers(tracer, rec, replies, jobs, totals, clock, load_t0, load_t1,
            memo_counts, input_bytes, offered_rows, lake_dir, session_s) -> dict:
    (batch,) = tracer.named("ingest.ingest_batch")
    inside = tracer.within(batch)

    def tot(name: str) -> float:
        return sum(s.dur for s in inside if s.name == name)

    overwrites = [s for s in inside if s.name == "writers.atomic_overwrite"]
    writer_names = {"writers.append_unique", "writers.upsert_by_key"}
    fact_inserted = rec["counts"]["fact_rate"]
    load = [s for s in tracer.spans if load_t0 <= s.t0 <= load_t1]
    handlers = [s for s in load if s.parent is None and s.name.startswith("api.")]
    n_req = max(1, len(replies))
    handler_ms = 1000 * sum(s.dur for s in handlers) / max(1, len(handlers))
    plan_spans = [s for s in load if s.name in {f"queries.{n}" for n in LAKE_ENDPOINTS}]
    load_jobs = _jobs_between(jobs, load_t0 + clock, load_t1 + clock)
    job_ms = sum(
        (_epoch(j["completionTime"]) - _epoch(j["submissionTime"])) * 1000
        for j in load_jobs if j.get("completionTime")
    )
    lookups = memo_counts["hit"] + memo_counts["miss"]
    return {
        "session.start_s": session_s,
        "writers.append_unique_dims_s": tot("writers.append_unique"),
        "writers.upsert_fact_s": tot("writers.upsert_by_key"),
        "writers.atomic_overwrite_s": sum(s.dur for s in overwrites),
        "writers.rewrites": len(overwrites),
        "writers.lock_wait_s": tot("writers.lock_wait"),
        "writers.bytes_written_per_input_byte": sum(s.attrs.get("bytes", 0) for s in overwrites) / input_bytes,
        "writers.rows_inserted_per_offered": fact_inserted / offered_rows,
        "ingest.count_back_s": batch.dur - sum(
            c.dur for c in tracer.children(batch) if c.name in writer_names
        ),
        "ingest.spark_jobs_per_batch": len(_jobs_between(jobs, batch.t0 + clock, batch.t1 + clock)),
        "ingest.batch_s": rec["batch_s"],
        "ingest.rows_per_s": offered_rows / rec["batch_s"],
        "lake.files": _files(Path(lake_dir)),
        "lake.bytes_per_input_byte": _du(lake_dir) / input_bytes,
        "nppes.npi_dims_s": tracer.total("ingest.ingest_npi_dims"),
        "queries.materialize_index_s": tracer.total("queries.materialize_search_index"),
        "queries.materialize_rollups_s": sum(tracer.total(f"queries.{n}") for n in MATERIALIZE[1:]),
        "refresh_s": rec["refresh_s"],
        "queries.plan_build_ms": 1000 * sum(s.dur for s in plan_spans) / n_req,
        "queries.plan_memo_hit_ratio": memo_counts["hit"] / lookups if lookups else 0.0,
        "api.handler_ms": handler_ms,
        "api.collect_ms": 1000 * sum(s.dur for s in load if s.name in ("api._rows", "api._one")) / n_req,
        "http.front_ms": sum(r["service_ms"] for r in replies) / n_req - handler_ms,
        "spark.jobs_per_request": len(load_jobs) / n_req,
        "spark.job_ms_per_request": job_ms / n_req,
        "client.late_ms": common.median([r["late_ms"] for r in replies]) if replies else 0.0,
        "spark.executor_run_s": totals["executor_run_s"],
        "spark.executor_cpu_s": totals["executor_cpu_s"],
        "spark.gc_s": totals["gc_s"],
    }
