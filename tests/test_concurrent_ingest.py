"""Concurrent lake publish: independent dims/xrefs written at once, the
fact after all of them, row counts read from Parquet footers.

Pins the properties the concurrency must not cost: every Spark job of a
batch stays in the caller's job group (cancellable), a failing dim write
surfaces without leaving locks, temp dirs or a fact behind, and the fact
is published only once every dim/xref is."""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from mrf_etl_spark.io import append_unique, parquet_row_count, write_concurrently, writers
from mrf_etl_spark.plans import ingest
from mrf_etl_spark.plans.ingest import IngestConfig, ingest_batch
from tests.fixtures import make_raw_frames

DIMS_AND_XREFS = [
    "dim_code", "dim_payer", "dim_provider_group", "dim_pos_set", "xref_pos",
    "xref_pg_member_npi", "xref_pg_member_tin",
]


def _probe_job_ids(spark, tag: str) -> list[int]:
    sc = spark.sparkContext
    group = f"probe-{tag}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-id marker")
    try:
        spark.range(1).collect()
    finally:
        sc._jsc.clearJobGroup()
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def grouped_lake(spark, tmp_path_factory):
    """A fresh ingest run under a job group, bracketed by marker jobs so
    the ids of every job it submitted (from any thread) are known."""
    d = str(tmp_path_factory.mktemp("lake_grouped"))
    rates, prov = make_raw_frames(spark)
    sc = spark.sparkContext
    group = f"ingest-{uuid.uuid4().hex[:8]}"
    before = _probe_job_ids(spark, "before")
    sc.setJobGroup(group, "ingest under test")
    try:
        counts = ingest_batch(spark, rates, prov, d, IngestConfig(state="GA"))
    finally:
        sc._jsc.clearJobGroup()
    after = _probe_job_ids(spark, "after")
    submitted = set(range(max(before) + 1, min(after)))
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    return d, counts, submitted, in_group


def test_ingest_jobs_inherit_callers_job_group(grouped_lake):
    _, _, submitted, in_group = grouped_lake
    assert submitted, "ingest submitted no Spark jobs"
    # writer threads must carry the caller's local properties: a job
    # outside the group could not be cancelled with cancelJobGroup
    assert submitted == in_group


def _add_junk(table: str) -> None:
    """Files a Spark scan ignores: a stray committer dir holding a real
    data file, a checksum and a marker with garbage bytes."""
    part = next(
        os.path.join(root, f) for root, _, files in os.walk(table) for f in files if f.startswith("part-")
    )
    os.makedirs(os.path.join(table, "_temporary", "0"))
    shutil.copy(part, os.path.join(table, "_temporary", "0"))
    for junk in (".part-stale.parquet.crc", "_SUCCESS", ".hidden.parquet"):
        with open(os.path.join(table, junk), "wb") as fh:
            fh.write(b"not parquet")


def test_parquet_row_count_matches_spark_count(spark, grouped_lake, tmp_path):
    d, counts, *_ = grouped_lake
    # flat tables, as ingest_batch reported them
    for name, n in counts.items():
        assert n == spark.read.parquet(f"{d}/{name}").count() == parquet_row_count(f"{d}/{name}")

    # hive-partitioned fact
    part = str(tmp_path / "lake_part")
    rates, prov = make_raw_frames(spark)
    pcounts = ingest_batch(spark, rates, prov, part, IngestConfig(state="GA"), partitioned_fact=True)
    assert any(e.startswith("state=") for e in os.listdir(f"{part}/fact_rate"))
    assert pcounts["fact_rate"] == spark.read.parquet(f"{part}/fact_rate").count()

    # delta-appended table: several commits' files side by side
    delta = str(tmp_path / "delta")
    append_unique(spark, spark.range(100).select(F.col("id").alias("k")), delta, keys=["k"])
    append_unique(
        spark, spark.range(80, 150).select(F.col("id").alias("k")), delta, keys=["k"], rewrite=False
    )

    flat = shutil.copytree(f"{d}/dim_code", str(tmp_path / "dim_code"))
    for table in (flat, f"{part}/fact_rate", delta):
        want = spark.read.parquet(table).count()
        assert parquet_row_count(table) == want
        _add_junk(table)
        assert spark.read.parquet(table).count() == want
        assert parquet_row_count(table) == want
    assert parquet_row_count(delta) == 150

    with pytest.raises(FileNotFoundError):
        parquet_row_count(str(tmp_path / "missing"))


def test_failed_dim_write_surfaces_and_rerun_converges(spark, grouped_lake, tmp_path, monkeypatch):
    _, fresh_counts, *_ = grouped_lake
    d = str(tmp_path / "lake")
    rates, prov = make_raw_frames(spark)
    real = writers.atomic_overwrite

    def failing(df, path, *args, **kwargs):
        if path.endswith("/dim_pos_set"):
            raise RuntimeError("injected dim_pos_set failure")
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(writers, "atomic_overwrite", failing)
    with pytest.raises(RuntimeError, match="injected dim_pos_set failure"):
        ingest_batch(spark, rates, prov, d, IngestConfig(state="GA"))
    monkeypatch.undo()

    entries = os.listdir(d)
    assert "fact_rate" not in entries and "dim_pos_set" not in entries
    assert not [e for e in entries if e.endswith(".lock") or ".tmp-" in e], entries

    assert ingest_batch(spark, rates, prov, d, IngestConfig(state="GA")) == fresh_counts


def test_fact_publishes_after_every_dim(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "lake")
    rates, prov = make_raw_frames(spark)
    real_publish, real_upsert = writers.atomic_overwrite, ingest.upsert_by_key
    calls: dict[str, tuple[float, float]] = {}
    lock = threading.Lock()

    def publish(df, path, *args, **kwargs):
        t0 = time.monotonic()
        real_publish(df, path, *args, **kwargs)
        with lock:
            calls[os.path.basename(path)] = (t0, time.monotonic())

    def upsert(*args, **kwargs):
        # the fact's write starts when its upsert is called, before it
        # even plans the publish
        calls["fact_upsert"] = (time.monotonic(), 0.0)
        return real_upsert(*args, **kwargs)

    monkeypatch.setattr(writers, "atomic_overwrite", publish)
    monkeypatch.setattr(ingest, "upsert_by_key", upsert)
    ingest_batch(spark, rates, prov, d, IngestConfig(state="GA"))

    assert set(calls) == {*DIMS_AND_XREFS, "fact_rate", "fact_upsert"}
    fact_start = calls["fact_upsert"][0]
    assert fact_start <= calls["fact_rate"][0]
    assert all(calls[t][1] <= fact_start for t in DIMS_AND_XREFS)


def test_write_concurrently_bounds_workers_and_runs_every_write(spark):
    limit = spark.sparkContext.defaultParallelism
    lock = threading.Lock()
    running, peak, done = [0], [0], []

    def write(i: int) -> None:
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        time.sleep(0.02)
        with lock:
            running[0] -= 1
            done.append(i)

    write_concurrently(spark, [lambda i=i: write(i) for i in range(3 * limit)])
    assert sorted(done) == list(range(3 * limit))
    assert min(2, limit) <= peak[0] <= limit


def test_write_concurrently_raises_after_running_writes_finish(spark):
    started = threading.Event()
    finished = []

    def slow() -> None:
        assert started.wait(10)
        time.sleep(0.2)
        finished.append("slow")

    def bad() -> None:
        started.set()
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        write_concurrently(spark, [slow, bad])
    # the failure surfaced only once the write already running had finished
    assert finished == ["slow"]
