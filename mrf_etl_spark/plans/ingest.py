"""Star-schema ingest — the Spark-first re-expression of the reference's
prod ETL (prod_etl/ETL_1.py cells 3-8; variant prod_etl/notebook.py).

One batch = (rates_raw, providers_raw) for a single payer/state. The whole
script becomes ~10 DataFrame expressions:

    normalize → project dims/xrefs (DISTINCT) → append-unique each →
    mint fact_uid → upsert fact

Idempotency is a *plan property*: deterministic md5 uids + key-scoped
anti-join writers make re-running a batch a no-op (Data_Schema.md:356-362).

Scale design:
  * dims/xrefs are tiny → their writers broadcast the key anti-join, and
    a batch's cost is per-Spark-job overhead, not data. The seven dims/
    xrefs are independent tables, so they publish concurrently (one
    thread per write, bounded by the core count, each under its own
    table lock); the fact publishes only after all of them, so a reader
    never sees a fact row before its dims.
  * the returned row counts are summed from the Parquet footers
    (``parquet_row_count``) — no count-back Spark jobs; same local/POSIX
    scope as the writers' lock and atomic swap.
  * the fact upsert anti-joins on fact_uid only (column-pruned scan of the
    existing fact); at 100 TB pass `existing_filter` (state+year_month of
    the batch) so the anti-join prunes to the partitions a batch can touch.
  * the fact table itself is written hive-partitioned by
    (state, year_month, payer_slug). NOTE: the reference's notebook layout
    adds billing_class and code_type levels (notebook.py:275-351) — at
    100 TB that 5-level layout explodes into ~10^6 small partitions, so we
    keep the 3 pruning-relevant levels and leave class/type to row-group
    statistics (min/max pushdown covers them).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrf_etl_spark import schemas
from mrf_etl_spark.functions import (
    fact_uid,
    normalize_service_codes,
    null_sentinel_date,
    pg_uid,
    pos_set_id,
    slugify,
    year_month_from_string,
)
from mrf_etl_spark.io import (
    append_unique,
    conform,
    parquet_row_count,
    upsert_by_key,
    write_concurrently,
    write_partitioned,
)


@dataclass
class IngestConfig:
    state: str = "GA"
    payer_slug_override: str | None = None  # PAYER_SLUG_OVERRIDE, ETL_1.py:88-91
    # ETL_1 keeps raw `version`; the notebook variant defaults blank→"1.0.0"
    # and nulls the 9999-12-31 expiration sentinel (notebook.py:137-147)
    version_default: str | None = None
    expiration_sentinel_to_null: bool = False
    fact_partition_cols: list[str] = field(
        default_factory=lambda: ["state", "year_month", "payer_slug"]
    )


def _payer_slug(cfg: IngestConfig) -> F.Column:
    if cfg.payer_slug_override:
        return F.lit(cfg.payer_slug_override)
    # fill_null("") before slugify (ETL_1.py:255) → slug of "" is ""
    return slugify(F.coalesce(F.col("reporting_entity_name"), F.lit("")), "-")


def normalize_rates(rates_raw: DataFrame, cfg: IngestConfig) -> DataFrame:
    """ETL_1 Cell 5 'base': payer_slug, year_month, pos_members/pos_set_id,
    pg_uid minted as native expressions."""
    base = conform(rates_raw, schemas.RATES_RAW)
    if cfg.version_default is not None:
        base = base.withColumn(
            "version",
            F.when(
                F.col("version").isNull() | (F.col("version") == ""),
                F.lit(cfg.version_default),
            ).otherwise(F.col("version")),
        )
    if cfg.expiration_sentinel_to_null:
        base = base.withColumn("expiration_date", null_sentinel_date("expiration_date"))
    return (
        base.withColumn("payer_slug", _payer_slug(cfg))
        .withColumn(
            "year_month",
            year_month_from_string(F.coalesce(F.col("last_updated_on"), F.lit(""))),
        )
        .withColumn("pos_members", normalize_service_codes("service_codes"))
        .withColumn("pos_set_id", pos_set_id("pos_members"))
        .withColumn(
            "pg_uid",
            pg_uid("payer_slug", "version", "provider_group_id", "provider_reference_id"),
        )
    )


def project_dims(base: DataFrame) -> dict[str, DataFrame]:
    """DISTINCT dim projections (ETL_1.py:282-322)."""
    dim_code = (
        base.select(
            F.col("billing_code_type").alias("code_type"),
            F.col("billing_code").cast("string").alias("code"),
            F.col("description").alias("code_description"),
            F.col("name").alias("code_name"),
        )
        .filter(F.col("code_type").isNotNull() & F.col("code").isNotNull())
        .distinct()
    )
    dim_payer = (
        base.select("payer_slug", "reporting_entity_name", "version")
        .filter(F.col("payer_slug").isNotNull())
        .distinct()
    )
    dim_provider_group = (
        base.select(
            "pg_uid",
            "payer_slug",
            F.coalesce("provider_group_id", "provider_reference_id").alias(
                "provider_group_id_raw"
            ),
            "version",
        )
        .filter(F.col("pg_uid").isNotNull())
        .distinct()
    )
    dim_pos_set = (
        base.select("pos_set_id", "pos_members")
        .filter(F.col("pos_set_id").isNotNull())
        .distinct()
    )
    xref_pos = dim_pos_set.select(
        "pos_set_id", F.explode("pos_members").alias("pos")
    ).distinct()
    return {
        "dim_code": dim_code,
        "dim_payer": dim_payer,
        "dim_provider_group": dim_provider_group,
        "dim_pos_set": dim_pos_set,
        "xref_pos": xref_pos,
    }


def project_xrefs(providers_raw: DataFrame, cfg: IngestConfig) -> dict[str, DataFrame]:
    """Provider-side pg_uid minting + member xrefs (ETL_1.py:325-352)."""
    prov = conform(providers_raw, schemas.PROVIDERS_RAW)
    if cfg.version_default is not None:
        prov = prov.withColumn(
            "version",
            F.when(
                F.col("version").isNull() | (F.col("version") == ""),
                F.lit(cfg.version_default),
            ).otherwise(F.col("version")),
        )
    aug = prov.withColumn("payer_slug", _payer_slug(cfg)).withColumn(
        "pg_uid",
        pg_uid("payer_slug", "version", "provider_group_id", "provider_reference_id"),
    )
    xref_npi = (
        aug.select("pg_uid", "npi")
        .filter(F.col("pg_uid").isNotNull() & F.col("npi").isNotNull())
        .distinct()
    )
    xref_tin = (
        aug.select("pg_uid", "tin_type", "tin_value")
        .filter(F.col("pg_uid").isNotNull() & F.col("tin_value").isNotNull())
        .distinct()
    )
    return {"xref_pg_member_npi": xref_npi, "xref_pg_member_tin": xref_tin}


def build_fact(base: DataFrame, cfg: IngestConfig) -> DataFrame:
    """Fact grain + deterministic fact_uid (ETL_1.py:407-440)."""
    fact = base.withColumn("state", F.lit(cfg.state)).select(
        "state",
        "year_month",
        "payer_slug",
        "billing_class",
        F.col("billing_code_type").alias("code_type"),
        F.col("billing_code").cast("string").alias("code"),
        "pg_uid",
        "pos_set_id",
        "negotiated_type",
        "negotiation_arrangement",
        F.col("negotiated_rate").cast("double").alias("negotiated_rate"),
        "expiration_date",
        F.coalesce("provider_group_id", "provider_reference_id").alias(
            "provider_group_id_raw"
        ),
        "reporting_entity_name",
    )
    return (
        fact.withColumn("fact_uid", fact_uid())
        .select(*[f.name for f in schemas.FACT_RATE.fields])
        .distinct()
    )


def ingest_batch(
    spark: SparkSession,
    rates_raw: DataFrame,
    providers_raw: DataFrame,
    lake_dir: str,
    cfg: IngestConfig | None = None,
    partitioned_fact: bool = False,
) -> dict[str, int]:
    """Run the full star-schema ingest for one batch into ``lake_dir``.

    Returns per-table row counts after the write (the reference's Cell 9
    sanity block, ETL_1.py:505-521)."""
    cfg = cfg or IngestConfig()
    base = normalize_rates(rates_raw, cfg)
    tables = project_dims(base)
    tables.update(project_xrefs(providers_raw, cfg))

    # dims/xrefs first (concurrently), the fact only once all are published
    write_concurrently(spark, [
        partial(append_unique, spark, df, f"{lake_dir}/{name}", keys=schemas.TABLE_KEYS[name])
        for name, df in tables.items()
    ])

    fact = build_fact(base, cfg)
    fact_path = f"{lake_dir}/fact_rate"
    if partitioned_fact:
        # dynamic-partition variant (notebook.py:275-351): replace only the
        # partitions present in this batch, dedup inside each on fact_uid
        existing_filterable = fact  # batch is already the new partition set
        write_partitioned(
            existing_filterable,
            fact_path,
            partition_by=cfg.fact_partition_cols,
            dedup_keys=["fact_uid"],
        )
    else:
        upsert_by_key(
            spark,
            fact,
            fact_path,
            keys=["fact_uid"],
            existing_filter=(F.col("state") == cfg.state),
        )

    return {name: parquet_row_count(f"{lake_dir}/{name}") for name in [*tables, "fact_rate"]}


def ingest_npi_dims(
    spark: SparkSession,
    payloads: DataFrame,
    lake_dir: str,
    refresh: bool = False,
) -> dict[str, int]:
    """Mint dim_npi / dim_npi_address from raw NPPES payloads into the
    same lake `ingest_batch` writes (utils_nppes.py:326-380's
    add_npi_to_dims, batched). StarLake.load then joins them into the
    search index automatically. Typical flow: collect the distinct NPIs
    from xref_pg_member_npi that are missing from dim_npi, fetch/cached-
    lookup their payloads, then call this."""
    from mrf_etl_spark.operators.nppes_dims import build_npi_dims

    return build_npi_dims(spark, payloads, lake_dir, refresh=refresh)
