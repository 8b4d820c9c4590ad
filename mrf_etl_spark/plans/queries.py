"""The reference webapp's query vocabulary as parameterized DataFrame
functions (SURVEY §3.3). Each FastAPI endpoint's SQL becomes a function
over temp views / DataFrames; DuckDB's PERCENTILE_CONT ≡ Spark's exact
`percentile`, ILIKE ≡ `ilike`.

`StarLake` is the query-layer entry point: it holds the star-schema
DataFrames and exposes every endpoint family the reference serves
(webapp/backend/main.py:100-996, webapp/utils/optimized_queries.py,
webapp/staged_dashboard.py:95-402) as a parameterized function returning a
DataFrame.

Scale design: the search index (J8) is a multi-way LEFT join where every
right side is a dim/xref → all broadcast; the fact is read once with
filters pushed to the scan. The serving-latency optimization the reference
documents (materialized views, 10-50×, DASHBOARD_OPTIMIZATION_GUIDE.md) is
`materialize_market_rates` — a pre-aggregated table written once and read
by the dashboard queries.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass
from functools import partial
from typing import ClassVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from mrf_etl_spark.io.writers import write_concurrently


def like_literal(value: str) -> str:
    """Escape LIKE/ILIKE wildcards (`%`, `_`, and the `\\` escape char
    itself) so a user-supplied value matches LITERALLY when interpolated
    into a ``%...%`` pattern.

    This is the ONE deliberate divergence from the reference: its
    endpoints interpolate the raw request value into ILIKE
    (optimized_queries.py:265-540), so a user '%' acts as a wildcard.
    We define every substring endpoint as literal-substring instead —
    the fast path (`contains` on stored ``_lc_`` columns) can only be
    literal, so the ilike fallback escapes to match it. Both serving
    tiers therefore implement identical semantics regardless of which
    one answers the request.
    """
    return value.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


def build_filter(
    eq: dict[str, object] | None = None,
    isin: dict[str, Iterable[object]] | None = None,
    ilike: dict[str, str] | None = None,
    between: dict[str, tuple[object, object]] | None = None,
    not_null: Iterable[str] = (),
) -> Column:
    """Compose =, IN (...), ILIKE '%x%', BETWEEN, IS NOT NULL conditions
    over arbitrary filter fields into one conjunction
    (optimized_queries.py:565-650). Catalyst pushes the resulting
    predicate into the scan where possible."""
    pred = F.lit(True)
    for col, val in (eq or {}).items():
        pred = pred & (F.col(col) == val)
    for col, vals in (isin or {}).items():
        pred = pred & F.col(col).isin(list(vals))
    for col, pat in (ilike or {}).items():
        pred = pred & F.col(col).ilike(pat)
    for col, (lo, hi) in (between or {}).items():
        pred = pred & F.col(col).between(lo, hi)
    for col in not_null:
        pred = pred & F.col(col).isNotNull()
    return pred


def summary_stats(df: DataFrame, rate_col: str, group_cols: list[str]) -> DataFrame:
    """COUNT/AVG/MIN/MAX/exact-median block (data_queries.py:96-107)."""
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("rate_count"),
        F.round(F.avg(rate_col), 2).alias("avg_rate"),
        F.round(F.min(rate_col), 2).alias("min_rate"),
        F.round(F.max(rate_col), 2).alias("max_rate"),
        F.round(F.expr(f"percentile({rate_col}, 0.5)"), 2).alias("median_rate"),
    )


def percentile_profile(
    df: DataFrame,
    rate_col: str,
    group_cols: list[str],
    percentiles: tuple[float, ...] = (0.10, 0.25, 0.50, 0.75, 0.90),
    distinct_counts: dict[str, str] | None = None,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """agg_market_rates rollup (notebook.py:374-405): p10..p90 + distinct
    entity counts per market cell.

    Plan shape (measured 3× at sf0.1): ONE array-percentile (a single sort
    buffer instead of one per quantile), and the countDistincts in a
    separate aggregation joined back on the group key — combining them
    makes Spark Expand the scan per distinct column, multiplying the
    percentile's input.

    ``approx=True`` is the 100 TB path: exact `percentile` buffers every
    value of a group in one aggregation buffer (a hot market cell with
    10⁹ rates OOMs it), while `approx_percentile` keeps a fixed-size
    KLL-style sketch per group that partial-aggregates map-side — rank
    error ≤ 1/accuracy. Distinct counts switch to HLL
    `approx_count_distinct` for the same reason. The default stays exact:
    it is the reference's semantics and the driver's oracle compare."""
    arr = ", ".join(str(p) for p in percentiles)
    fn = "approx_percentile" if approx else "percentile"
    acc = f", {accuracy}" if approx else ""
    pct = df.groupBy(*group_cols).agg(
        F.expr(f"{fn}({rate_col}, array({arr}){acc})").alias("_ps")
    )
    pct = pct.select(
        *group_cols,
        *[F.round(F.col("_ps")[i], 2).alias(f"p{int(p * 100)}") for i, p in enumerate(percentiles)],
    )
    if not distinct_counts:
        return pct
    cd = F.approx_count_distinct if approx else F.countDistinct
    dst = df.groupBy(*group_cols).agg(
        *[cd(col).alias(out) for out, col in distinct_counts.items()]
    )
    return pct.join(dst, list(group_cols))


def faceted_counts(df: DataFrame, facet: str, k: int = 20) -> DataFrame:
    """GROUP BY facet ORDER BY count DESC LIMIT k (staged_dashboard.py:95-314),
    with the facet value as tie-break for determinism."""
    return (
        df.groupBy(F.col(facet).alias("facet"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("facet").asc())
        .limit(k)
    )


@dataclass
class StarLake:
    """The star schema as DataFrames + the endpoint vocabulary over it.

    Construct from in-memory DataFrames or `StarLake.load(spark, lake_dir)`
    over an ingested lake (plans/ingest.py layout)."""

    fact: DataFrame
    dim_code: DataFrame | None = None
    dim_code_cat: DataFrame | None = None
    dim_npi: DataFrame | None = None
    dim_npi_address: DataFrame | None = None
    xref_npi: DataFrame | None = None
    xref_tin: DataFrame | None = None
    # a materialized copy of search_index() (materialize_search_index):
    # when set, every index-derived endpoint reads it instead of
    # re-joining the star — the reference's comprehensive_search_index MV
    search_index_table: DataFrame | None = None
    # second-tier serving MVs (materialize_search_rollups /
    # materialize_category_stats): per-endpoint PRE-AGGREGATED rollups,
    # the reference's per-endpoint search views — when set, search_rollup
    # and category_statistics filter these instead of aggregating the
    # scoped index per request
    search_rollup_mvs: dict[str, DataFrame] | None = None
    category_stats_table: DataFrame | None = None
    category_rollup_mvs: dict[str, DataFrame] | None = None

    @classmethod
    def load(cls, spark: SparkSession, lake_dir: str) -> StarLake:
        import os

        def opt(name):
            p = f"{lake_dir}/{name}"
            return spark.read.parquet(p) if os.path.exists(p) else None

        return cls(
            fact=spark.read.parquet(f"{lake_dir}/fact_rate"),
            dim_code=opt("dim_code"),
            dim_code_cat=opt("dim_code_cat"),
            dim_npi=opt("dim_npi"),
            dim_npi_address=opt("dim_npi_address"),
            xref_npi=opt("xref_pg_member_npi"),
            xref_tin=opt("xref_pg_member_tin"),
        )

    # -- J8: the comprehensive search index ---------------------------------
    def search_index(self) -> DataFrame:
        """The 5-way star LEFT join + precomputed lowercase search text
        (optimized_queries.py:172-229). Only the bounded-cardinality code
        dims carry broadcast hints; xrefs scale with the fact's provider
        groups and dim_npi with the NPI universe, so their join strategy is
        left to size stats + AQE (a forced hint OOMs the build side at
        scale)."""
        if self.search_index_table is not None:
            return self.search_index_table
        df = self.fact
        if self.xref_npi is not None:
            df = df.join(self.xref_npi, on="pg_uid", how="left")
        # dim_npi keys on npi, which only exists once xref_npi joined —
        # a lake configured with the dim but no xref shouldn't crash the
        # whole index (it just serves without provider columns)
        if self.dim_npi is not None and "npi" in df.columns:
            df = df.join(self.dim_npi, on="npi", how="left")
        if self.xref_tin is not None:
            df = df.join(self.xref_tin.select("pg_uid", "tin_type", "tin_value"), on="pg_uid", how="left")
        if self.dim_code_cat is not None:
            cc = self.dim_code_cat.select(
                F.col("proc_cd"), "proc_set", "proc_class", "proc_group"
            )
            df = df.join(broadcast(cc), on=df["code"] == cc["proc_cd"], how="left").drop("proc_cd")
        if self.dim_npi_address is not None and "npi" in df.columns:
            na = self.dim_npi_address.filter(F.col("address_purpose") == "LOCATION").select(
                "npi",
                "city",
                F.col("state").alias("provider_state"),
                F.col("postal_code").alias("provider_postal_code"),
            )
            df = df.join(na, on="npi", how="left")
        search_parts = [
            c for c in [
                "organization_name", "first_name", "last_name", "primary_taxonomy_desc",
                "code", "proc_class", "proc_group", "reporting_entity_name", "tin_value",
            ] if c in df.columns
        ]
        df = df.withColumn(
            "full_search_text",
            F.lower(F.concat_ws(" ", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in search_parts])),
        )
        # per-field precomputed lowercase (the reference's search_text
        # pattern, optimized_queries.py:66-71, applied per ilike field):
        # the single-field ILIKE endpoints then filter with a pure byte
        # `contains` on a STORED column instead of lowercasing the source
        # string per row per request — on the materialized index this is
        # the difference between the non-MV payer search clearing the
        # reference's 500 ms p95 target at sf1 and missing it
        for c in sorted(self._ILIKE_FIELDS):
            if c in df.columns:
                df = df.withColumn(f"_lc_{c}", F.lower(F.col(c)))
        return df

    # every column any single-field endpoint filters with ILIKE — each
    # gets a precomputed lowercase sibling in the search index
    _ILIKE_FIELDS: ClassVar[frozenset] = frozenset(
        {"organization_name", "primary_taxonomy_desc", "proc_class",
         "reporting_entity_name"}
    )

    def _ilike_pred(self, df_cols, col: str, value: str) -> Column:
        """Case-insensitive substring predicate for an endpoint field:
        `contains` on the precomputed lowercase column when the index
        carries it, else live ilike with wildcards escaped — BOTH tiers
        treat the user value literally (see `like_literal` for the
        documented divergence from the reference's raw interpolation)."""
        lc = f"_lc_{col}"
        if lc in df_cols:
            return F.col(lc).contains(value.lower())
        return F.col(col).ilike(f"%{like_literal(value)}%")

    # -- endpoint vocabulary -------------------------------------------------
    def multi_field_search(self, pred: Column | None = None, free_text: str | None = None, limit: int = 1000) -> DataFrame:
        """/api/search/multi-field (backend/main.py:724-789 →
        optimized_queries.py:542-722): P10 predicate + optional substring
        over the precomputed search text, DISTINCT, top rates first,
        capped at 1000 rows (the reference's crash guard)."""
        df = self.search_index()
        if pred is not None:
            df = df.filter(pred)
        if free_text:
            df = df.filter(F.col("full_search_text").contains(free_text.lower()))
        return (
            df.drop(
                "full_search_text",
                *[c for c in df.columns if c.startswith("_lc_")],
            )
            .distinct()
            .orderBy(F.col("negotiated_rate").desc())
            .limit(limit)
        )

    # -- /api/search/{tin,organization,taxonomy,procedure-category,
    #    billing-code,payer} (backend/main.py:586-722 →
    #    utils/optimized_queries.py:265-540) -----------------------------
    # search type -> (filter column, 'eq'|'ilike', identity/group columns,
    # extra distinct-count aggs). Mirrors each reference endpoint's
    # materialized-view rollup: filter + GROUP BY identity + count/avg/
    # min/max(rate) + ORDER BY rate_count DESC LIMIT.
    SEARCH_ROLLUPS: ClassVar[dict] = {
        "tin": (
            "tin_value", "eq",
            ["tin_value", "tin_type", "npi", "organization_name", "first_name",
             "last_name", "primary_taxonomy_desc", "payer_slug",
             "reporting_entity_name"],
            {},
        ),
        "organization": (
            "organization_name", "ilike",
            ["npi", "organization_name", "first_name", "last_name",
             "primary_taxonomy_desc", "status", "enumeration_type", "city",
             "provider_state", "provider_postal_code"],
            {},
        ),
        "taxonomy": (
            "primary_taxonomy_desc", "ilike",
            ["npi", "organization_name", "first_name", "last_name",
             "primary_taxonomy_desc", "status", "enumeration_type", "city",
             "provider_state", "provider_postal_code"],
            {},
        ),
        "procedure_category": (
            "proc_class", "ilike",
            ["code", "code_type", "proc_set", "proc_class", "proc_group"],
            {"unique_payers": "payer_slug"},
        ),
        "billing_code": (
            "code", "eq",
            ["code", "code_type", "proc_set", "proc_class", "proc_group",
             "billing_class"],
            {"unique_payers": "payer_slug"},
        ),
        "payer": (
            "reporting_entity_name", "ilike",
            ["payer_slug", "reporting_entity_name"],
            {"unique_procedures": "code", "unique_provider_groups": "pg_uid"},
        ),
    }

    def search_rollup(
        self,
        search_type: str,
        value: str,
        state: str,
        year_month: str,
        limit: int = 100,
    ) -> DataFrame:
        """The reference's single-field search endpoints: one filter over
        the search index + an identity-grain rollup of rate stats,
        ordered by rate_count. The reference serves these from
        per-endpoint materialized views; the QUERY is identical over the
        live index (materialize ``search_index()`` once and build a lake
        whose fact IS that table for the reference's serving latency).
        The reference's bare ``ORDER BY rate_count DESC`` is
        tie-nondeterministic under LIMIT — the identity columns join the
        sort as a total-order tie-break (the rate_detail fix)."""
        col, op, group_cols, extras = self.SEARCH_ROLLUPS[search_type]

        def value_pred(df_cols):
            if op == "eq":
                return F.col(col) == value
            return self._ilike_pred(df_cols, col, value)
        if self.search_rollup_mvs and search_type in self.search_rollup_mvs:
            # second-tier MV: the identity-grain rollup is PRE-AGGREGATED
            # per (state, year_month) and the value predicate filters
            # GROUPS — exact, because the predicate column is part of the
            # rollup's group key (filtering groups == filtering rows).
            # The request scans thousands of rollup rows in one pruned
            # partition instead of re-aggregating the index slice.
            mv = self.search_rollup_mvs[search_type]
            present = [c for c in group_cols if c in mv.columns]
            agg_names = ["rate_count", "avg_rate", "min_rate", "max_rate"] + [
                name for name in extras if name in mv.columns
            ]
            return self._memo_plan(
                ("search_rollup", search_type, value, state, year_month, limit),
                lambda: (
                    mv.filter(
                        (F.col("state") == state)
                        & (F.col("year_month") == year_month)
                    )
                    .filter(value_pred(mv.columns))
                    .select(*present, *agg_names)
                    .orderBy(
                        F.col("rate_count").desc(),
                        *[F.col(c).asc_nulls_last() for c in present],
                    )
                    .limit(limit)
                ),
            )
        # live (non-MV) path: the plan is memoized per (endpoint, args)
        # exactly like the MV tiers — per-request py4j + Catalyst
        # analysis (20-67 ms measured, PLANS.md r9 #4) is paid once per
        # distinct request, which is what carries the non-MV payer
        # search under the reference's 500 ms target at sf1
        def build():
            idx = self.search_index().filter(
                (F.col("state") == state) & (F.col("year_month") == year_month)
            )
            idx = idx.filter(value_pred(idx.columns))
            present = [c for c in group_cols if c in idx.columns]
            out = idx.groupBy(*present).agg(*self._rollup_aggs(idx, extras))
            return out.orderBy(
                F.col("rate_count").desc(),
                *[F.col(c).asc_nulls_last() for c in present],
            ).limit(limit)

        return self._memo_plan(
            ("search_rollup_live", search_type, value, state, year_month, limit),
            build,
        )

    @staticmethod
    def _rollup_aggs(idx: DataFrame, extras: dict[str, str]) -> list[Column]:
        """The shared per-group stat block of search_rollup — used both by
        the per-request aggregation and the MV build, so the two paths
        cannot drift."""
        return [
            F.count("*").alias("rate_count"),
            F.avg("negotiated_rate").alias("avg_rate"),
            F.min("negotiated_rate").alias("min_rate"),
            F.max("negotiated_rate").alias("max_rate"),
            *[
                F.countDistinct(src).alias(name)
                for name, src in extras.items()
                if src in idx.columns
            ],
        ]

    # -- /api/explore/* (backend/main.py:926-996 →
    #    utils/optimized_queries.py:828-1025) ---------------------------
    # explore category name -> search-index column
    CATEGORY_FIELDS: ClassVar[dict] = {
        "payer": "reporting_entity_name",
        "organization": "organization_name",
        "taxonomy": "primary_taxonomy_desc",
        "procedure_set": "proc_set",
        "procedure_class": "proc_class",
        "procedure": "code",
        "provider": "npi",
        "tin": "tin_value",
    }

    def _memo_plan(self, key: tuple, build) -> DataFrame:
        """Serving-tier plan reuse — the prepared-statement pattern. The
        MV2 endpoints' EXECUTION runs at the engine job floor (~35-47 ms
        measured), but constructing the request DataFrame costs 20-67 ms
        of py4j + Catalyst analysis PER REQUEST — for the stats endpoint
        that was 2/3 of the serving p50 (the r8→r9 drift VERDICT #4
        flagged). DataFrames are immutable and lazy, so a constructed
        endpoint plan is safe to reuse for repeated (endpoint, args)
        requests; re-materializing an MV returns a NEW StarLake
        (dataclasses.replace), which naturally drops this cache. Bounded
        crudely (clear at 256 entries): serving scopes are few, and a
        cold rebuild costs only the analysis being amortized."""
        cache = getattr(self, "_plan_cache", None)
        if cache is None:
            cache = {}
            object.__setattr__(self, "_plan_cache", cache)
        df = cache.get(key)
        if df is None:
            if len(cache) >= 256:
                cache.clear()
            df = build()
            cache[key] = df
        return df

    def category_rollup(
        self,
        state: str,
        year_month: str,
        category: str,
        source: tuple[str, str] | None = None,
        limit: int = 25,
    ) -> DataFrame:
        """The shared shape behind /api/explore/data-availability AND
        /api/explore/drill-down: per-value-of-category rollup (record
        count, distinct providers/procedures, rate stats) over the scoped
        search index; ``source=(category, value)`` adds the drill-down's
        source filter. Ordered (record_count DESC, value ASC — the
        tie-break the reference's bare ORDER BY lacks under LIMIT)."""
        field = self.CATEGORY_FIELDS[category]
        if source is None and self.category_rollup_mvs is not None and (
            category in self.category_rollup_mvs
        ):
            # availability requests (no drill-down source) serve from the
            # per-category value-grain MV: countDistinct at (state,
            # year_month, value) grain IS the final answer (no merge
            # step exists), so the request is a pruned-partition read +
            # order/limit. Drill-downs keep the live path — their grain
            # is (source value × target value), not materialized.
            mv = self.category_rollup_mvs[category]
            return self._memo_plan(
                ("category_rollup", state, year_month, category, limit),
                lambda: (
                    mv.filter(
                        (F.col("state") == state)
                        & (F.col("year_month") == year_month)
                    )
                    .select(
                        "value", "record_count", "unique_providers",
                        "unique_procedures", "avg_rate", "min_rate", "max_rate",
                    )
                    .orderBy(F.col("record_count").desc(), F.col("value").asc())
                    .limit(limit)
                ),
            )
        # live path: plan memoized per (endpoint, args) like every other
        # serving tier (search_rollup's prepared-statement note)
        def build() -> DataFrame:
            idx = self.search_index().filter(
                (F.col("state") == state)
                & (F.col("year_month") == year_month)
                & F.col(field).isNotNull()
                & (F.col(field) != "")
            )
            if source is not None:
                src_cat, src_val = source
                idx = idx.filter(F.col(self.CATEGORY_FIELDS[src_cat]) == src_val)
            out = idx.groupBy(F.col(field).alias("value")).agg(
                *self._category_rollup_aggs()
            )
            return out.orderBy(
                F.col("record_count").desc(), F.col("value").asc()
            ).limit(limit)

        return self._memo_plan(
            ("category_rollup_live", state, year_month, category, source, limit),
            build,
        )

    @staticmethod
    def _category_rollup_aggs() -> list[Column]:
        """category_rollup's per-value stat block — shared by the
        per-request aggregation and the MV build."""
        return [
            F.count("*").alias("record_count"),
            F.countDistinct("npi").alias("unique_providers"),
            F.countDistinct("code").alias("unique_procedures"),
            F.avg("negotiated_rate").alias("avg_rate"),
            F.min("negotiated_rate").alias("min_rate"),
            F.max("negotiated_rate").alias("max_rate"),
        ]

    def category_statistics(self, state: str, year_month: str) -> DataFrame:
        """/api/explore/category-stats: one row of distinct-value counts
        per explore category + total records, over the scoped index.
        With the stats MV materialized this is a POINT READ of one
        pre-aggregated row (the scoped countDistincts equal the grouped
        countDistincts at (state, year_month) grain exactly)."""
        if self.category_stats_table is not None:
            mv = self.category_stats_table
            keep = [c for c in mv.columns if c not in ("state", "year_month")]
            # an ABSENT scope must still yield the live path's
            # one-row-of-zeros shape (a point-read caller indexes
            # result[0]). r8 served that via agg-over-the-slice, which
            # turned the point read into a two-stage aggregate and
            # doubled serving p50 (45.7→113.5 ms, reproduced interleaved
            # r9); instead union a zeros sentinel UNDER the slice and
            # TakeOrdered(1) — still a single job, no exchange, and the
            # (state, year_month) partition filter still prunes the scan
            def build() -> DataFrame:
                sliced = mv.filter(
                    (F.col("state") == state)
                    & (F.col("year_month") == year_month)
                ).select(*keep, F.lit(0).alias("_pri"))
                zeros = mv.sparkSession.range(1).select(
                    *[F.lit(0).cast("long").alias(c) for c in keep],
                    F.lit(1).alias("_pri"),
                )
                return (
                    sliced.unionByName(zeros)
                    .orderBy("_pri")
                    .limit(1)
                    .select(*keep)
                )

            return self._memo_plan(
                ("category_statistics", state, year_month), build
            )
        def build_live() -> DataFrame:
            idx = self.search_index().filter(
                (F.col("state") == state) & (F.col("year_month") == year_month)
            )
            aggs = [
                F.countDistinct(col).alias(f"unique_{cat}")
                for cat, col in self.CATEGORY_FIELDS.items()
                if col in idx.columns
            ]
            return idx.agg(*aggs, F.count("*").alias("total_records"))

        return self._memo_plan(
            ("category_statistics_live", state, year_month), build_live
        )

    def rate_summary(self, pred: Column | None = None) -> DataFrame:
        """/api/rates/summary (backend/main.py:127-158, A4): one stats block
        for the filter scope."""
        df = self.fact.filter(pred) if pred is not None else self.fact
        return df.agg(
            F.count("*").alias("rate_count"),
            F.round(F.avg("negotiated_rate"), 2).alias("avg_rate"),
            F.round(F.min("negotiated_rate"), 2).alias("min_rate"),
            F.round(F.max("negotiated_rate"), 2).alias("max_rate"),
            F.round(F.expr("percentile(negotiated_rate, 0.5)"), 2).alias("median_rate"),
            F.countDistinct("code").alias("unique_codes"),
            F.countDistinct("payer_slug").alias("unique_payers"),
        )

    def rates_by_payer(self, pred: Column | None = None, limit: int = 50) -> DataFrame:
        """/api/rates/by-payer (backend/main.py:188-255, A5)."""
        df = self.fact.filter(pred) if pred is not None else self.fact
        return (
            summary_stats(df, "negotiated_rate", ["payer_slug"])
            .orderBy(F.col("rate_count").desc(), F.col("payer_slug"))
            .limit(limit)
        )

    def rates_by_procedure(self, pred: Column | None = None, limit: int = 50) -> DataFrame:
        """/api/rates/by-procedure (backend/main.py:257-327, A5 + J12 code
        description with COALESCE(code_desc, code))."""
        df = self.fact.filter(pred) if pred is not None else self.fact
        out = summary_stats(df, "negotiated_rate", ["code_type", "code"])
        if self.dim_code is not None:
            dc = self.dim_code.select("code_type", "code", "code_description").dropDuplicates(["code_type", "code"])
            out = out.join(broadcast(dc), on=["code_type", "code"], how="left")
            out = out.withColumn("code_desc", F.coalesce("code_description", "code")).drop("code_description")
        return out.orderBy(F.col("rate_count").desc(), F.col("code")).limit(limit)

    def rate_detail(
        self,
        state: str,
        year_month: str,
        payer: str | None = None,
        code: str | None = None,
        billing_class: str | None = None,
        tin_value: str | None = None,
        limit: int = 100,
    ) -> DataFrame:
        """/api/rates/detail (backend/main.py:329-411): fact rows for one
        (state, year_month) scope with optional payer-substring / code /
        billing-class / TIN filters, code description coalesced from
        dim_code, ordered (payer, code, rate) and capped.

        The reference's TIN branch joins xref on (year_month, payer_slug,
        pg_uid); our pg_uid already encodes payer_slug+version at mint
        time, so pg_uid alone is the equivalent key. fact_uid is appended
        to the sort as a unique tie-break — the reference's ORDER BY is
        non-deterministic across ties, which a LIMIT turns into
        non-deterministic RESULTS; a paging endpoint needs a total order."""
        df = self.fact.filter(
            (F.col("state") == state) & (F.col("year_month") == year_month)
        )
        if payer:
            df = df.filter(F.col("reporting_entity_name").ilike(f"%{like_literal(payer)}%"))
        if code:
            df = df.filter(F.col("code") == code)
        if billing_class:
            df = df.filter(F.col("billing_class") == billing_class)
        if tin_value:
            assert self.xref_tin is not None, "rate_detail tin filter needs xref_tin"
            hit = self.xref_tin.filter(F.col("tin_value") == tin_value).select("pg_uid")
            df = df.join(broadcast(hit.distinct()), on="pg_uid", how="inner")
        if self.dim_code is not None:
            dc = self.dim_code.select(
                "code_type", "code", "code_description"
            ).dropDuplicates(["code_type", "code"])
            df = df.join(broadcast(dc), on=["code_type", "code"], how="left")
        else:
            df = df.withColumn("code_description", F.lit(None).cast("string"))
        return (
            df.select(
                F.col("reporting_entity_name").alias("payer_name"),
                "code_type",
                "code",
                F.coalesce("code_description", "code").alias("code_desc"),
                # round(x,2) if x else 0 — the reference's null/zero guard
                F.when(
                    F.col("negotiated_rate").isNull() | (F.col("negotiated_rate") == 0),
                    F.lit(0.0),
                )
                .otherwise(F.round("negotiated_rate", 2))
                .alias("negotiated_rate"),
                "negotiated_type",
                "negotiation_arrangement",
                "expiration_date",
                "fact_uid",
            )
            .orderBy("payer_name", "code", "negotiated_rate", "fact_uid")
            .limit(limit)
            .drop("fact_uid")
        )

    def provider_search(self, q: str, limit: int = 20) -> DataFrame:
        """/api/providers/search (backend/main.py:413-459): case-insensitive
        substring match over organization/first/last name on dim_npi,
        ordered by (organization_name, last_name, first_name) with npi as
        the deterministic tie-break, capped."""
        assert self.dim_npi is not None, "provider_search needs dim_npi"
        pat = f"%{like_literal(q)}%"
        return (
            self.dim_npi.filter(
                F.col("organization_name").ilike(pat)
                | F.col("first_name").ilike(pat)
                | F.col("last_name").ilike(pat)
            )
            .select(
                "npi",
                "organization_name",
                "first_name",
                "last_name",
                "enumeration_type",
                "primary_taxonomy_desc",
                "status",
            )
            .orderBy("organization_name", "last_name", "first_name", "npi")
            .limit(limit)
        )

    def availability_matrix(self) -> DataFrame:
        """/api/meta/data-availability (backend/main.py:461-503, A8)."""
        return self.fact.groupBy("state", "year_month").agg(
            F.count("*").alias("rate_count"),
            F.countDistinct("payer_slug").alias("payer_count"),
            F.countDistinct("code").alias("code_count"),
        )

    def dashboard_statistics(self) -> DataFrame:
        """/api/statistics (backend/main.py:908-924, A9): the multi-distinct
        block in one pass. `approx=True` callers can switch to
        approx_count_distinct — the documented fast path at scale."""
        return self.fact.agg(
            F.count("*").alias("total_rates"),
            F.countDistinct("payer_slug").alias("payers"),
            F.countDistinct("code").alias("codes"),
            F.countDistinct("code_type").alias("code_types"),
            F.countDistinct("pg_uid").alias("provider_groups"),
            F.countDistinct("state").alias("states"),
            F.countDistinct("year_month").alias("months"),
            F.countDistinct("billing_class").alias("billing_classes"),
        )

    def dimension_values(
        self,
        dimension: str,
        k: int = 100,
        state: str | None = None,
        year_month: str | None = None,
    ) -> DataFrame:
        """/api/meta/dimension-values (backend/main.py:505-580, A7).
        The reference scopes by (state, year_month) — optional here so
        the unscoped facet form stays available — and resolves
        ``tin_value`` through the TIN xref (the only non-fact
        dimension)."""
        src = self.fact
        if dimension == "tin_value" and self.xref_tin is not None:
            src = src.join(
                self.xref_tin.select("pg_uid", "tin_value"), on="pg_uid"
            )
        if state is not None:
            src = src.filter(F.col("state") == state)
        if year_month is not None:
            src = src.filter(F.col("year_month") == year_month)
        return faceted_counts(src, dimension, k)

    def drilldown(self, fix: dict[str, object], group_by: str, k: int = 20) -> DataFrame:
        """/api/explore drill-down (optimized_queries.py:966-1024, A10):
        fix dimension values, aggregate another."""
        df = self.fact.filter(build_filter(eq=fix))
        return (
            df.groupBy(group_by)
            .agg(
                F.count("*").alias("rate_count"),
                F.round(F.avg("negotiated_rate"), 2).alias("avg_rate"),
            )
            .orderBy(F.col("rate_count").desc(), F.col(group_by))
            .limit(k)
        )

    def autocomplete(self, field: str, prefix: str, k: int = 15) -> DataFrame:
        """/api/autocomplete (backend/main.py:791-906): case-insensitive
        prefix/substring match on a dimension column, most-common first."""
        return (
            self.fact.filter(F.col(field).ilike(f"%{like_literal(prefix)}%"))
            .groupBy(F.col(field).alias("value"))
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("value"))
            .limit(k)
        )

    # reference autocomplete field id -> (source attr, column, scoped?)
    # (backend/main.py:791-906: fact fields scope by state/year_month,
    # dim/xref fields are unscoped distinct-value lists)
    AUTOCOMPLETE_SOURCES: ClassVar[dict] = {
        "billing_class": ("fact", "billing_class", True),
        "payer": ("fact", "reporting_entity_name", True),
        "billing_code": ("fact", "code", True),
        "proc_class": ("dim_code_cat", "proc_class", False),
        "proc_set": ("dim_code_cat", "proc_set", False),
        "proc_group": ("dim_code_cat", "proc_group", False),
        "primary_taxonomy_desc": ("dim_npi", "primary_taxonomy_desc", False),
        "organization_name": ("dim_npi", "organization_name", False),
        "npi": ("dim_npi", "npi", False),
        "tin_value": ("xref_tin", "tin_value", False),
    }

    def autocomplete_values(
        self,
        field: str,
        state: str | None = None,
        year_month: str | None = None,
        limit: int = 20,
    ) -> DataFrame:
        """The reference's /api/autocomplete/{field} semantics verbatim:
        DISTINCT non-empty values of the field from its OWN source table
        (fact fields scoped by state/year_month; category, provider and
        TIN fields straight off their dim/xref), ordered by value ASC.
        (The reference echoes but never applies the query string — the
        substring form lives in :meth:`autocomplete`.)"""
        src_attr, col, scoped = self.AUTOCOMPLETE_SOURCES[field]
        src = getattr(self, src_attr)
        if src is None:
            raise ValueError(f"lake has no {src_attr} table for field {field!r}")
        df = src
        if scoped:
            if state is not None:
                df = df.filter(F.col("state") == state)
            if year_month is not None:
                df = df.filter(F.col("year_month") == year_month)
        return (
            df.filter(F.col(col).isNotNull() & (F.col(col) != ""))
            .select(F.col(col).alias("value"))
            .distinct()
            .orderBy(F.col("value").asc())
            .limit(limit)
        )

    def staged_funnel(self, stages: list[tuple[str, object | None]], k: int = 15) -> list[DataFrame]:
        """The 5-step staged dashboard (staged_dashboard.py:95-402): at each
        stage, facet counts for the next dimension under the filters chosen
        so far. ``stages`` is [(dimension, chosen_value_or_None), ...]; a
        None value marks the frontier stage."""
        out: list[DataFrame] = []
        pred = F.lit(True)
        for dim, chosen in stages:
            out.append(faceted_counts(self.fact.filter(pred), dim, k))
            if chosen is None:
                break
            pred = pred & (F.col(dim) == chosen)
        return out

    def market_rates(self, approx: bool = False) -> DataFrame:
        """agg_market_rates rollup (notebook.py:374-405, A6): exact
        p10..p90 + distinct-entity counts per market cell. NPI/TIN distinct
        counts need the xrefs (COUNT(DISTINCT npi) over the join).
        ``approx=True`` switches to sketch-based percentiles/distincts —
        the documented path when a market cell's rate count no longer fits
        an exact sort buffer (see percentile_profile)."""
        df = self.fact
        distinct_counts = {}
        # xrefs are sf-proportional: no forced broadcast (AQE decides)
        if self.xref_npi is not None:
            df = df.join(self.xref_npi, on="pg_uid", how="left")
            distinct_counts["npi_count"] = "npi"
        if self.xref_tin is not None:
            df = df.join(self.xref_tin.select("pg_uid", "tin_value"), on="pg_uid", how="left")
            distinct_counts["tin_count"] = "tin_value"
        return percentile_profile(
            df,
            "negotiated_rate",
            ["year_month", "state", "payer_slug", "billing_class", "code_type", "code"],
            distinct_counts=distinct_counts,
            approx=approx,
        )

    def materialize_search_index(self, path: str) -> StarLake:
        """The reference's comprehensive_search_index MV
        (DASHBOARD_OPTIMIZATION_GUIDE.md: per-endpoint search views,
        10-50x): write the joined index ONCE, partitioned by
        (state, year_month) so every scoped endpoint prunes to its
        partition, and return a lake whose index-derived endpoints
        (search_rollup, category_rollup, multi_field_search, ...) read
        the MV instead of re-joining the star per request. Refresh =
        re-materialize the touched (state, year_month) partitions, the
        refresh_market_rates pattern."""
        spark = self.fact.sparkSession
        self.search_index().write.mode("overwrite").partitionBy(
            "state", "year_month"
        ).parquet(path)
        return StarLake(
            fact=self.fact,
            dim_code=self.dim_code,
            dim_code_cat=self.dim_code_cat,
            dim_npi=self.dim_npi,
            dim_npi_address=self.dim_npi_address,
            xref_npi=self.xref_npi,
            xref_tin=self.xref_tin,
            search_index_table=spark.read.parquet(path),
        )

    def materialize_search_rollups(
        self, path: str, search_types: Iterable[str] | None = None
    ) -> StarLake:
        """Second-tier serving MVs — the reference's per-endpoint search
        views (DASHBOARD_OPTIMIZATION_GUIDE.md, the 10-50x tier): for
        each search type, the identity-grain rollup pre-aggregates per
        (state, year_month) WITHOUT the value predicate. The predicate
        column is part of every rollup's group key, so filtering the
        pre-aggregated groups at request time returns exactly what
        aggregating the filtered index would (parity-tested); an ilike
        request then scans a few thousand rollup rows in one pruned
        partition instead of re-aggregating the scoped index slice.
        Refresh = re-materialize touched (state, year_month) partitions,
        the refresh_market_rates pattern. The per-type MVs are independent
        tables and are written concurrently."""
        import dataclasses

        spark = self.fact.sparkSession
        idx = self.search_index()
        cols = set(idx.columns)
        types = list(search_types or self.SEARCH_ROLLUPS)

        def write(st: str) -> None:
            _, _, group_cols, extras = self.SEARCH_ROLLUPS[st]
            present = [c for c in group_cols if c in cols]
            (
                idx.groupBy("state", "year_month", *present)
                .agg(*self._rollup_aggs(idx, extras))
                .write.mode("overwrite")
                .partitionBy("state", "year_month")
                .parquet(f"{path}/{st}")
            )

        write_concurrently(spark, [partial(write, st) for st in types])
        mvs = {st: spark.read.parquet(f"{path}/{st}") for st in types}
        return dataclasses.replace(self, search_rollup_mvs=mvs)

    def materialize_category_rollups(
        self, path: str, categories: Iterable[str] | None = None
    ) -> StarLake:
        """Value-grain MVs for the /api/explore availability requests:
        per category, one row per (state, year_month, value) holding the
        category_rollup stat block. The per-value countDistincts ARE the
        final answer at this grain (no merge step), so availability
        becomes a pruned-partition read + order/limit. Drill-downs
        (source × target grain) stay on the live path. The per-category
        MVs are independent tables and are written concurrently."""
        import dataclasses

        spark = self.fact.sparkSession
        idx = self.search_index()
        cols = set(idx.columns)
        cats = [
            cat for cat in categories or list(self.CATEGORY_FIELDS)
            if self.CATEGORY_FIELDS[cat] in cols
        ]

        def write(cat: str) -> None:
            field = self.CATEGORY_FIELDS[cat]
            (
                idx.filter(F.col(field).isNotNull() & (F.col(field) != ""))
                .groupBy(
                    "state", "year_month", F.col(field).alias("value")
                )
                .agg(*self._category_rollup_aggs())
                .write.mode("overwrite")
                .partitionBy("state", "year_month")
                .parquet(f"{path}/{cat}")
            )

        write_concurrently(spark, [partial(write, cat) for cat in cats])
        mvs = {cat: spark.read.parquet(f"{path}/{cat}") for cat in cats}
        return dataclasses.replace(self, category_rollup_mvs=mvs)

    def materialize_category_stats(self, path: str) -> StarLake:
        """The explore-stats MV: ONE row per (state, year_month) holding
        every category's distinct-value count + total records. The
        endpoint becomes a partition-pruned point read — the smallest
        serving table in the tier (|states| x |months| rows)."""
        import dataclasses

        spark = self.fact.sparkSession
        idx = self.search_index()
        aggs = [
            F.countDistinct(col).alias(f"unique_{cat}")
            for cat, col in self.CATEGORY_FIELDS.items()
            if col in idx.columns
        ]
        (
            idx.groupBy("state", "year_month")
            .agg(*aggs, F.count("*").alias("total_records"))
            .write.mode("overwrite")
            .partitionBy("state", "year_month")
            .parquet(path)
        )
        return dataclasses.replace(
            self, category_stats_table=spark.read.parquet(path)
        )

    def materialize_market_rates(self, path: str) -> DataFrame:
        """Write the rollup as a serving table (the reference's materialized
        -view optimization: 2-5 s full scans → 50-200 ms pre-agg reads,
        DASHBOARD_OPTIMIZATION_GUIDE.md:9-19). Partitioned by state so
        dashboard queries prune."""
        spark = self.fact.sparkSession
        self.market_rates().write.mode("overwrite").partitionBy("state").parquet(path)
        return spark.read.parquet(path)

    def materialize_market_rates_head(
        self, mr: DataFrame, path: str, k: int = 100
    ) -> DataFrame:
        """Serving head for the dashboard page fetch (VERDICT r7 #5): the
        market-rates MV answers the page request with a TakeOrdered over
        the WHOLE state partition per request (~170 ms p50 at sf1, and
        growing with months × codes). The page only ever shows the top-k
        cells, so pre-rank each state (row_number over ``p50 DESC, code``
        — the page's exact presentation order, code as the total
        tiebreak) and keep k rows: the request becomes a pruned read of
        EXACTLY k rows plus a k-row sort, so latency tracks k, not corpus
        size — the property that holds at 100 TB. Parity: the head rows
        ARE the full MV's ``ORDER BY p50 DESC, code LIMIT k`` for every
        state (deterministic via the tiebreak; tested). Refresh rides the
        refresh_market_rates pattern: recompute heads for touched states
        only via dynamic partition overwrite of this table."""
        from pyspark.sql.window import Window

        spark = self.fact.sparkSession
        w = Window.partitionBy("state").orderBy(F.col("p50").desc(), F.col("code"))
        (
            mr.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
            .write.mode("overwrite")
            .partitionBy("state")
            .parquet(path)
        )
        return spark.read.parquet(path)

    def refresh_market_rates(
        self, path: str, states: list[str], approx: bool = False
    ) -> DataFrame:
        """Incremental serving-table refresh: recompute the rollup ONLY for
        the states a new batch touched and dynamic-partition-overwrite just
        those partitions — untouched states' files are not rewritten (or
        even read). At 100 TB a full MV rebuild scans the whole fact table
        per batch; a batch touches one (state, year_month) slice, so the
        refresh cost tracks batch size, not lake size. The reference's
        refresh_optimizations rebuilds its MVs in full (optimize_database
        path) — this is the scale-correct replacement, same output."""
        spark = self.fact.sparkSession
        scoped = StarLake(
            fact=self.fact.filter(F.col("state").isin(states)),
            dim_code=self.dim_code,
            dim_code_cat=self.dim_code_cat,
            dim_npi=self.dim_npi,
            dim_npi_address=self.dim_npi_address,
            xref_npi=self.xref_npi,
            xref_tin=self.xref_tin,
        )
        # writer-scoped, not session conf — leaves other writes' semantics alone
        scoped.market_rates(approx=approx).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("state").parquet(path)
        return spark.read.parquet(path)
