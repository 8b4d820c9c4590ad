"""catalog_sweep: operator-catalog entries through ``queries()[name]`` ->
``toPandas`` over seeded TPC-H-shaped tables.

Each entry runs once cold in catalog order, in a fresh process, so the
first entry also pays the engine's first-query costs; then the whole list
repeats until the timed region (cold sweep plus warm sweeps) has run for
the run's seconds, and at least three times. After every execution,
outside the timed region, ``release_state`` runs, the persisted RDDs left behind are counted
against the count before the entry, and every persisted RDD and cached
table is dropped, so no execution reuses another's leaked cache.

Correctness (outside the timed region): each entry's last delivered frame
equals its DuckDB oracle under ``tests/oracle_harness.compare``, and every
execution of an entry delivered the same number of rows.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import math
import time

import common
import gen

CFG = common.CONFIG["catalog_sweep"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def install_trace(tracer) -> None:
    import pkgutil

    import mrf_etl_spark.operators as ops
    from mrf_etl_spark import session

    tracer.wrap_function(session, "get_spark", "session")
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"mrf_etl_spark.operators.{info.name}")
        tracer.wrap_public_functions(mod, f"operators.{info.name}")


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _drop_all_state(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()


def _catalyst_ms(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


class _Delivered:
    """The delivered pandas frame in the shape ``oracle_harness.compare``
    reads from a Spark DataFrame: ``columns`` and ``collect()`` rows of
    Python values typed by the Spark schema."""

    def __init__(self, pdf, schema):
        self.columns = list(pdf.columns)
        convs = [_converter(f.dataType) for f in schema.fields]
        self._rows = [
            tuple(c(v) for c, v in zip(convs, row))
            for row in pdf.itertuples(index=False, name=None)
        ]

    def collect(self):
        return self._rows


def _converter(dtype):
    from pyspark.sql import types as T

    def is_null(v) -> bool:
        return v is None or (isinstance(v, float) and math.isnan(v)) or str(v) in ("NaT", "nan", "<NA>")

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return lambda v: None if is_null(v) else int(v)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return lambda v: None if is_null(v) else float(v)
    if isinstance(dtype, T.BooleanType):
        return lambda v: None if is_null(v) else bool(v)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return lambda v: None if is_null(v) else v.to_pydatetime().replace(tzinfo=None)
    if isinstance(dtype, T.DateType):
        return lambda v: None if is_null(v) else (v if isinstance(v, dt.date) else v.date())
    if isinstance(dtype, T.ArrayType):
        inner = _converter(dtype.elementType)
        return lambda v: None if v is None else [inner(x) for x in v]
    if isinstance(dtype, T.StructType):
        subs = [(f.name, _converter(f.dataType)) for f in dtype.fields]
        return lambda v: None if v is None else tuple(c(v[n]) for n, c in subs)
    return lambda v: None if not isinstance(v, (str, bytes, bytearray)) and is_null(v) else v


def _oracle_check(results: dict, sf_dir: str, work) -> list[str]:
    import duckdb

    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "oracle_harness", common.ROOT / "tests" / "oracle_harness.py"
    )
    harness = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(harness)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    problems = []
    try:
        con.sql(f"SET threads={common.box()['SPARK_GRAFT_CPUS']}")
        con.sql(f"SET temp_directory='{work / 'duckdb'}'")
        for tbl in TABLES:
            con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')")
        for name, (pdf, schema, nrows) in results.items():
            if len(set(nrows)) != 1:
                problems.append(f"{name}: row counts differ between executions {nrows}")
            if name not in oracles:
                problems.append(f"{name}: no oracle")
                continue
            r = harness.compare(name, _Delivered(pdf, schema), oracles[name], con)
            if r["status"] != "PASS":
                problems.append(f"{name}: {r['status']} {r.get('example', '')}"[:300])
    finally:
        con.close()
    return problems


def run(seed: int, seconds: float, wd: common.Workdir, tracer) -> dict:
    if tracer is not None:
        install_trace(tracer)
    spark, session_s = common.start_session(wd, "mrfbench-catalog")
    pid = common.jvm_pid(spark)
    sc = spark.sparkContext

    gens = []
    for rep in range(3):
        t = time.perf_counter()
        gen.catalog_tables(seed, wd / f"sf{rep}")
        gens.append(time.perf_counter() - t)
    sf_dir = str(wd / "sf0")
    setup_s = session_s + common.median(gens)

    import __spark_entry__ as entry

    from mrf_etl_spark.operators.dedup import release_state

    fns = entry.queries()
    names = CFG["entries"]
    runs: dict[str, list[dict]] = {n: [] for n in names}
    last: dict[str, tuple] = {}

    def execute(name: str, k: int) -> float:
        if tracer is not None:
            sc.setJobGroup(f"{name}#{k}", name)
        before = _persisted(spark)
        t0 = time.perf_counter()
        df = fns[name](spark, sf_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        release_state(df)
        rec = {"compose_s": t1 - t0, "deliver_s": t2 - t1, "total_s": t2 - t0,
               "rows": len(pdf.index), "leaked_rdds": _persisted(spark) - before}
        if tracer is not None:
            rec["catalyst_ms"] = _catalyst_ms(df)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"{name}#{k}"))
        last[name] = (pdf, df.schema)
        runs[name].append(rec)
        _drop_all_state(spark)
        return rec["total_s"]

    # timed region: the cold sweep, then warm sweeps until the region has
    # run for the run's seconds, and at least three so each entry's warm
    # time is a median
    cold_s = sum(execute(n, 0) for n in names)
    spent, sweeps = cold_s, 0
    while sweeps < 3 or spent < seconds:
        sweeps += 1
        spent += sum(execute(n, sweeps) for n in names)
    rss = common.peak_rss_mb(pid)

    warm = {n: common.median([r["total_s"] for r in runs[n][1:]]) for n in names}
    results = {n: (last[n][0], last[n][1], [r["rows"] for r in runs[n]]) for n in names}
    problems = _oracle_check(results, sf_dir, wd)
    stages = common.rest(spark, "stages")
    totals = common.stage_totals(stages)
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss["total"], "MB"),
        "cold_s": (cold_s, "s"),
        "warm_ms": (1000 * sum(warm.values()), "ms"),
    }
    detail = {
        "catalog_cold_s": cold_s,
        "catalog_warm_s": sum(warm.values()),
        "warm_sweeps": sweeps,
        "peak_rss_parts_mb": rss,
        "setup_parts_s": {"session": session_s, "inputs": common.median(gens)},
        "entries": {n: {"cold_s": runs[n][0]["total_s"], "warm_s": warm[n],
                        "rows": runs[n][0]["rows"],
                        "leaked_rdds": [r["leaked_rdds"] for r in runs[n]]} for n in names},
        "problems": problems,
    }
    layers = None
    if tracer is not None:
        layers = _layers(spark, tracer, runs, stages, totals, session_s)
    return {
        "jvm_pid": pid,
        "correct": not problems,
        "attempted": sum(len(v) for v in runs.values()),
        "failed": 0,
        "metrics": metrics,
        "detail": detail,
        "layers": layers,
        "executor_cpu_s": totals["executor_cpu_s"],
    }


def _layers(spark, tracer, runs, stages, totals, session_s) -> dict:
    jobs = common.rest(spark, "jobs")
    stage_by_id = {}
    for st in stages:
        stage_by_id.setdefault(st["stageId"], []).append(st)
    out = {"session.start_s": session_s}
    catalog_stages = []
    for name, recs in runs.items():
        mine = [j for j in jobs if j.get("jobGroup", "").startswith(f"{name}#")]
        st = [s for j in mine for sid in j.get("stageIds", []) for s in stage_by_id.get(sid, [])]
        catalog_stages += st
        n = len(recs)
        out.update({
            f"catalog.{name}.compose_s": common.median([r["compose_s"] for r in recs]),
            f"catalog.{name}.deliver_s": common.median([r["deliver_s"] for r in recs]),
            f"catalog.{name}.jobs": common.median([r["jobs"] for r in recs]),
            f"catalog.{name}.executor_cpu_s": common.stage_totals(st)["executor_cpu_s"] / n,
            f"catalog.{name}.leaked_rdds": max(r["leaked_rdds"] for r in recs),
        })
    cat = common.stage_totals(catalog_stages)
    out.update({
        "catalog.catalyst_ms": sum(r["catalyst_ms"] for recs in runs.values() for r in recs),
        "catalog.shuffle_bytes": cat["shuffle_bytes"],
        "catalog.spill_bytes": cat["spill_bytes"],
        "catalog.gc_s": cat["gc_s"],
        "spark.executor_run_s": totals["executor_run_s"],
        "spark.executor_cpu_s": totals["executor_cpu_s"],
        "spark.gc_s": totals["gc_s"],
    })
    return out
