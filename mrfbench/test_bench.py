"""The benchmark's own checks: seeded inputs are reproducible, and the
serving tail percentile keeps at least ten samples beyond it.

    python3 -m pytest mrfbench/test_bench.py -q
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import gen  # noqa: E402
import serve  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SERVE = common.CONFIG["serve_dashboard"]


def _bytes(folder: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(folder.iterdir())}


def test_same_seed_same_batch(tmp_path):
    a, b = gen.mrf_batch(7), gen.mrf_batch(7)
    assert a.rates == b.rates and a.providers == b.providers
    gen.write_batch(a, tmp_path / "a")
    gen.write_batch(b, tmp_path / "b")
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert gen.mrf_batch(8).rates != a.rates


def test_expected_counts_follow_the_generated_rows():
    batch = gen.mrf_batch(3)
    assert batch.expected["fact_rate"] == len(batch.rates) == gen.N_PAYERS * gen.MONTHS * gen.ROWS
    assert batch.expected["dim_payer"] == gen.N_PAYERS
    assert batch.expected["dim_code"] == len({r["billing_code"] for r in batch.rates})


def test_same_seed_same_schedule_and_mix():
    rate, secs = SERVE["rate_per_s"], BENCH["run_seconds"]
    a = gen.schedule(5, rate, secs)
    assert a == gen.schedule(5, rate, secs)
    assert a != gen.schedule(6, rate, secs)
    assert len(a) == round(rate * secs) and a == sorted(a)
    assert all(0 <= t < secs for t in a)
    keys = gen.request_keys()
    mix = [gen.request_mix(5, keys, 48, SERVE["mix"]) for _ in range(2)]
    assert mix[0] == mix[1] and len(mix[0]) == 48
    assert mix[0] != gen.request_mix(6, keys, 48, SERVE["mix"])
    assert set(SERVE["mix"]) == {gen.endpoint(k) for k in keys}
    shares = [sum(gen.endpoint(k) == e for k in mix[0]) for e in SERVE["mix"]]
    assert max(shares) - min(shares) <= 1


def test_key_space_exceeds_plan_memo():
    keys = gen.request_keys()
    assert len(set(keys)) == len(keys) > 256


def test_same_seed_same_catalog_tables(tmp_path):
    gen.catalog_tables(11, tmp_path / "a")
    gen.catalog_tables(11, tmp_path / "b")
    gen.catalog_tables(12, tmp_path / "c")
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")


def test_tail_percentile_keeps_ten_samples_beyond():
    n = round(SERVE["rate_per_s"] * BENCH["run_seconds"])
    p = serve.TAIL_PERCENTILE
    assert n - math.ceil(n * p / 100) >= 10


def test_nearest_rank_quantile():
    xs = list(range(1, 101))
    assert common.quantile(xs, 95) == 95
    assert common.quantile(xs, 75) == 75
    assert common.quantile([3.0], 75) == 3.0


def test_per_layer_list_matches_benchmark_json():
    assert [m["name"] for m in BENCH["per_layer"]] == list(common.LAYER_UNITS) + [
        f"traced.{m['name']}" for m in BENCH["end_to_end"]
    ] + ["trace.spans"]
    assert all(m["unit"] == common.LAYER_UNITS.get(m["name"], m["unit"]) for m in BENCH["per_layer"])
