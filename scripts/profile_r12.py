"""Per-query plan and timing profiler (writes under plans/r12/).

For each named query (default: a built-in heavy set), at $SPARK_GRAFT_SF_DIR
(default sf0.1):
  - build the DataFrame, capture .explain("formatted") to
    plans/r12/<name>_<tag>.txt (tag from argv, default "before"),
  - time the computation via the noop sink (guide §1.4) so we time the
    plan, not result delivery,
  - also time one toPandas() pass (the bench's timed action) for
    comparability,
  - print per-query: noop_s, pandas_s, n_exchanges, joins seen.

Usage: python scripts/profile_r12.py [tag] [query ...]
"""

from __future__ import annotations

import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

HEAVY = [
    "st19_stream_ivfpq_ingest",
    "pipe10_capped_training_order",
    "pipe8_decontam_training_order",
    "st23_stream_cluster_map",
    "pipe9_trimmed_prep",
    "d20_trim_repeats",
    "st20_stream_codebook_drift",
    "n15_ann_pq_dimperm",
    "n14_ann_ivfpq_residual",
    "st21_stream_decontam_gate",
    "pipe3_corpus_release",
    "sp25_dedup_aware_mixture",
    "d17_longest_repeat",
    "sp26_perplexity_curriculum",
    "d13_canonical_pick",
    "q10_cluster_map",
    "a28_persisted_quantile_grid",
    "st17_stream_pack_offsets",
    "st22_stream_fertility",
    "sp27_repetition_schedule",
    "d3b_ngram_jaccard_capped",
    "d18_exact_repeat_lengths",
    "a26_persisted_cms",
    "pipe11_excised_prep",
    "pipe0_enrich",
    "pipe5_release_v2",
    "m7_audio_near_dup",
    "e5_embedding_outliers",
    "d21_eval_span_excision",
    "pipe2_fuzzy_dedup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    tag = args[0] if args else "before"
    names = args[1:] if len(args) > 1 else HEAVY

    import __spark_entry__ as entry_mod
    from mrf_etl_spark.operators.dedup import release_state
    from mrf_etl_spark.session import get_spark

    qs = entry_mod.queries()
    spark = get_spark(app_name=f"profile-r12-{tag}")
    # same warm-up as bench.py: footers + a throwaway query + python workers
    from pyspark.sql import functions as F

    for tbl in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").limit(1).count()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.limit(10000).groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    import pandas as _pd  # noqa: F401

    def _ident(it):
        yield from it

    spark.range(64).repartition(32).mapInPandas(_ident, "id long").count()

    outdir = Path(__file__).resolve().parent.parent / "plans/r12"
    outdir.mkdir(parents=True, exist_ok=True)

    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"{name}: NOT REGISTERED")
            continue
        spark.sparkContext.setJobDescription(f"r12-{tag}:{name}")
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (outdir / f"{name}_{tag}.txt").write_text(plan)
            n_exch = len(re.findall(r"\bExchange\b", plan))
            joins = sorted(
                set(re.findall(r"(\w*(?:HashJoin|MergeJoin|NestedLoopJoin))", plan))
            )
            n_py = len(
                re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)", plan)
            )
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_noop = time.perf_counter() - t0
            t0 = time.perf_counter()
            n_rows = len(df.toPandas().index)
            t_pd = time.perf_counter() - t0
            release_state(df)
            print(
                f"{name}: build={t_build:.2f}s noop={t_noop:.2f}s "
                f"pandas={t_pd:.2f}s rows={n_rows} exchanges={n_exch} "
                f"py_nodes={n_py} joins={joins}"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {str(e).splitlines()[0][:200]}")
        finally:
            spark.sparkContext.setJobDescription(None)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
