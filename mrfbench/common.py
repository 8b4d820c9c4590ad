"""Shared plumbing for the workloads: fitting the Spark session to the
machine, keeping every file the run writes inside the checkout, the noise
record, peak memory, the Spark UI REST reader and summary statistics."""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import subprocess
import time
import urllib.request
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CONFIG = json.loads((Path(__file__).resolve().parent / "config.json").read_text())


def box() -> dict[str, str]:
    """Session sizing from the machine, passed through the repo's own
    environment knobs: one local core per usable CPU, and a driver heap of
    an eighth of physical memory, capped at 1 GiB and floored at 512 MiB
    (the package default of 24g exceeds small hosts; a heap the workload
    fills keeps the peak-memory figure from tracking G1's growth
    decisions: with a 2 GiB cap the serving run's peak spread 0.20
    between seeds)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    mem_mb = max(512, min(1024, total_kb // 1024 // 8))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m"}


class Workdir:
    """A per-run directory under the checkout for raw inputs, the lake,
    Spark's local and temp files; removed when the run ends."""

    def __init__(self, workload: str):
        self.path = ROOT / ".mrfbench_work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)
        tmp = self.path / "tmp"
        tmp.mkdir()
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "spark-local")
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(self.path / "artifacts")
        self.spark_conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.path / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the REST stage/job lists must cover a whole run
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        }

    def __truediv__(self, name: str) -> Path:
        return self.path / name

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = self.path.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / 1024
    return 0.0


class Noise:
    """Wall time next to process CPU time (Python driver plus driver JVM)
    and the host's CPU-steal ticks, read at the start and end of a run;
    executor CPU comes from the stage metrics."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.steal0 = _steal_ticks()
        self.py0 = time.process_time()

    def record(self, jvm_pid: int | None, executor_cpu_s: float) -> dict:
        steal1 = _steal_ticks()
        return {
            "wall_s": time.perf_counter() - self.t0,
            "python_cpu_s": time.process_time() - self.py0,
            "jvm_cpu_s": _proc_cpu_s(jvm_pid) if jvm_pid else None,
            "executor_cpu_s": executor_cpu_s,
            "steal_ticks_start": self.steal0,
            "steal_ticks_end": steal1,
            "steal_ticks": steal1 - self.steal0,
        }


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """Peak resident memory so far of this Python process and the driver
    JVM (their high-water marks) and their sum. Read at the end of the
    timed region, so the correctness checks (DuckDB among them) do not
    count."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = _hwm_mb(jvm_pid) if jvm_pid else 0.0
    return {"python": py, "jvm": jvm, "total": py + jvm}


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — a remote JVM has no local pid
        return None


def start_session(workdir: Workdir, app: str):
    from mrf_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app, extra_conf=workdir.spark_conf)
    return spark, time.perf_counter() - t0


def stop_session() -> None:
    """Stop the active SparkContext, then end the driver JVM and wait for
    it to exit (killing it if it does not)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def rest(spark, what: str) -> list[dict]:
    """One list from the driver's UI REST API, e.g. ``stages`` or
    ``jobs``."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def stage_totals(stages: list[dict]) -> dict[str, float]:
    def s(key: str) -> float:
        return float(sum(st.get(key, 0) or 0 for st in stages))

    return {
        "executor_run_s": s("executorRunTime") / 1e3,
        "executor_cpu_s": s("executorCpuTime") / 1e9,
        "gc_s": s("jvmGcTime") / 1e3,
        "shuffle_bytes": s("shuffleReadBytes") + s("shuffleWriteBytes"),
        "spill_bytes": s("memoryBytesSpilled") + s("diskBytesSpilled"),
    }


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return float(s[int(k)])


def _layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. Each
    workload reports all of them; a layer the workload does not reach
    reads 0."""
    units = {
        "session.start_s": "s",
        "writers.append_unique_dims_s": "s",
        "writers.upsert_fact_s": "s",
        "writers.atomic_overwrite_s": "s",
        "writers.rewrites": "count",
        "writers.lock_wait_s": "s",
        "writers.bytes_written_per_input_byte": "ratio",
        "writers.rows_inserted_per_offered": "ratio",
        "ingest.count_back_s": "s",
        "ingest.spark_jobs_per_batch": "count",
        "ingest.batch_s": "s",
        "ingest.rows_per_s": "1/s",
        "lake.files": "count",
        "lake.bytes_per_input_byte": "ratio",
        "nppes.npi_dims_s": "s",
        "queries.materialize_index_s": "s",
        "queries.materialize_rollups_s": "s",
        "refresh_s": "s",
        "queries.plan_build_ms": "ms",
        "queries.plan_memo_hit_ratio": "ratio",
        "api.handler_ms": "ms",
        "api.collect_ms": "ms",
        "http.front_ms": "ms",
        "spark.jobs_per_request": "count",
        "spark.job_ms_per_request": "ms",
        "client.late_ms": "ms",
    }
    for q in CONFIG["catalog_sweep"]["entries"]:
        units.update({
            f"catalog.{q}.compose_s": "s",
            f"catalog.{q}.deliver_s": "s",
            f"catalog.{q}.jobs": "count",
            f"catalog.{q}.executor_cpu_s": "s",
            f"catalog.{q}.leaked_rdds": "count",
        })
    units.update({
        "catalog.catalyst_ms": "ms",
        "catalog.shuffle_bytes": "bytes",
        "catalog.spill_bytes": "bytes",
        "catalog.gc_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
    })
    return units


LAYER_UNITS = _layer_units()
