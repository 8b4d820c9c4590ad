"""Seeded input generators for the workloads.

Everything the program under test receives is produced here from the
``--seed`` argument: a raw MRF rate/provider batch and the open-loop
request schedule (serving), and the TPC-H-shaped tables (operator
catalog). The same seed yields byte-identical inputs;
``test_bench.py`` pins that.

The MRF generator also returns what every star-schema table must hold
after ingest, derived from the rows it emitted rather than from the
program's own key recipes, so the ingest correctness gate is independent
of the code it checks.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAYERS = [
    "Aetna Life Insurance Company",
    "Blue Cross Blue Shield of Georgia",
    "UnitedHealthcare Insurance Company",
    "Cigna Health and Life",
]
# CPT codes spread over the categorizer's ranges plus two HCPCS codes, so
# the explore endpoints see several procedure sets and classes.
CODES = [
    "10121", "11042", "17999", "19303", "20610", "27447", "29881", "31231",
    "33216", "36415", "43239", "45378", "47562", "49505", "52000", "55700",
    "58558", "62323", "64483", "66984", "69436", "70450", "70553", "71046",
    "72148", "73721", "74177", "76700", "77067", "78452", "80053", "81001",
    "85025", "87086", "88305", "90471", "92014", "93000", "93306", "94010",
    "96372", "97110", "97140", "98941", "99203", "99213", "99214", "99215",
    "99284", "99285", "G0008", "G0463",
]
# canonical service-code sets, each in two raw spellings that normalize
# to the same sorted member list
POS_SETS = [["11"], ["11", "22"], ["02", "11"], ["19", "21", "22"], ["23"]]
RATES_FIELDS = [
    "last_updated_on", "reporting_entity_name", "reporting_entity_type",
    "version", "billing_class", "billing_code_type", "billing_code",
    "service_codes", "negotiated_type", "negotiation_arrangement",
    "negotiated_rate", "expiration_date", "description", "name",
    "provider_reference_id", "provider_group_id",
]
PROVIDERS_FIELDS = [
    "last_updated_on", "reporting_entity_name", "reporting_entity_type",
    "version", "provider_group_id", "provider_reference_id", "npi",
    "tin_type", "tin_value",
]
RATES_SCHEMA = pa.schema(
    [(f, pa.float64() if f == "negotiated_rate" else pa.string()) for f in RATES_FIELDS]
)
PROVIDERS_SCHEMA = pa.schema([(f, pa.string()) for f in PROVIDERS_FIELDS])
# the serving lake: one state, N_PAYERS x MONTHS universes of ROWS rate
# rows each, ingested as one batch
STATE, N_PAYERS, MONTHS, ROWS = "GA", 4, 3, 600


def _slug(name: str) -> str:
    return "-".join("".join(c if c.isalnum() else " " for c in name.lower()).split())


@dataclass
class Batch:
    """One raw MRF batch for ``STATE``: the rate rows plus the provider
    rows for the provider references they name, and the table row counts
    and NPIs an ingest of it into an empty lake implies."""

    rates: list[dict]
    providers: list[dict]
    expected: dict[str, int]
    npis: list[str]


def _universe_row(rng: random.Random, payer: int, month: int, i: int) -> dict:
    # i -> (code, provider reference) is a bijection, so rows of one
    # (payer, month) universe are distinct at the fact grain
    code = CODES[i % len(CODES)]
    pref = i // len(CODES)
    pos = POS_SETS[(i * 7 + pref) % len(POS_SETS)]
    spelled = json.dumps(pos) if (i + month) % 2 else ",".join(pos)
    return {
        "last_updated_on": f"2025-{month:02d}-01",
        "reporting_entity_name": PAYERS[payer],
        "reporting_entity_type": "Insurer",
        "version": "1.0.0",
        "billing_class": "professional" if (i // 3) % 3 else "institutional",
        "billing_code_type": "HCPCS" if code.startswith("G") else "CPT",
        "billing_code": code,
        "service_codes": spelled,
        "negotiated_type": "negotiated" if i % 5 else "fee schedule",
        "negotiation_arrangement": "ffs",
        "negotiated_rate": round(rng.lognormvariate(4.5, 1.0), 2),
        "expiration_date": "9999-12-31",
        "description": f"procedure {code}",
        "name": f"code {code}",
        "provider_reference_id": f"PR{pref:04d}",
        "provider_group_id": None,
    }


def _npis_for(pref: str) -> list[str]:
    k = int(pref[2:])
    return [f"1{k:05d}{j:04d}" for j in range(1 + k % 2)]


def _provider_rows(rates: list[dict]) -> list[dict]:
    seen = sorted({(r["reporting_entity_name"], r["last_updated_on"],
                    r["provider_reference_id"]) for r in rates})
    return [
        {
            "last_updated_on": updated,
            "reporting_entity_name": payer,
            "reporting_entity_type": "Insurer",
            "version": "1.0.0",
            "provider_group_id": None,
            "provider_reference_id": pref,
            "npi": npi,
            "tin_type": "ein",
            "tin_value": f"9{int(pref[2:]):08d}",
        }
        for payer, updated, pref in seen
        for npi in _npis_for(pref)
    ]


def mrf_batch(seed: int) -> Batch:
    """The raw batch over ``N_PAYERS`` x ``MONTHS`` universes of ``ROWS``
    rate rows each."""
    rng = random.Random(seed)
    rates = [_universe_row(rng, p, m, i) for p in range(N_PAYERS)
             for m in range(1, MONTHS + 1) for i in range(ROWS)]
    providers = _provider_rows(rates)
    return Batch(rates, providers, expected_counts(rates, providers),
                 sorted({r["npi"] for r in providers}))


def expected_counts(rates: list[dict], providers: list[dict]) -> dict[str, int]:
    """Row counts per table after ingesting the rows into an empty lake,
    from their natural keys (payer slug stands in for the minted uids,
    which are injective over these keys)."""
    fact, codes, payers, groups, pos_sets, pos, npi_x, tin_x = (set() for _ in range(8))
    for r in rates:
        slug = _slug(r["reporting_entity_name"])
        payers.add(slug)
        members = tuple(sorted(set(json.loads(r["service_codes"])
                                   if r["service_codes"].startswith("[")
                                   else r["service_codes"].split(","))))
        fact.add((STATE, r["last_updated_on"][:7], slug, r["billing_class"],
                  r["billing_code"], r["provider_reference_id"], members,
                  r["negotiated_type"], f"{r['negotiated_rate']:.4f}"))
        codes.add((r["billing_code_type"], r["billing_code"]))
        groups.add((slug, r["provider_reference_id"]))
        pos_sets.add(members)
        pos.update((members, m) for m in members)
    for r in providers:
        slug = _slug(r["reporting_entity_name"])
        npi_x.add((slug, r["provider_reference_id"], r["npi"]))
        tin_x.add((slug, r["provider_reference_id"], r["tin_value"]))
    return {
        "dim_code": len(codes),
        "dim_payer": len(payers),
        "dim_provider_group": len(groups),
        "dim_pos_set": len(pos_sets),
        "xref_pos": len(pos),
        "xref_pg_member_npi": len(npi_x),
        "xref_pg_member_tin": len(tin_x),
        "fact_rate": len(fact),
    }


def write_batch(batch: Batch, out: Path) -> tuple[str, str, int]:
    """Write the batch as two Parquet files; returns their paths and the
    bytes written (the input size the space metrics divide by)."""
    out.mkdir(parents=True, exist_ok=True)
    rp, pp = out / "rates.parquet", out / "providers.parquet"
    pq.write_table(pa.Table.from_pylist(batch.rates, RATES_SCHEMA), rp)
    pq.write_table(pa.Table.from_pylist(batch.providers, PROVIDERS_SCHEMA), pp)
    return str(rp), str(pp), rp.stat().st_size + pp.stat().st_size


# ------------------------------------------------------------ catalog data

_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "rod", "anvil", "gizmo", "plate"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "en", "en", "en", "fr", "es", "zh", "de"]
_US_PER_DAY = 86_400_000_000


def _ts(base: str, us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us.astype(np.int64), pa.timestamp("us"))


def catalog_tables(seed: int, out: Path) -> dict[str, int]:
    """The ten tables the operator catalog reads, TPC-H shaped: 150
    customers, 1500 orders, 6000 line items, 1000 events, 500 documents
    and 500 embeddings. Returns row counts per table."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev, n_doc, n_vec = 1500, 6000, 1000, 500, 500
    i32, i64 = pa.int32(), pa.int64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _US_PER_DAY),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * _US_PER_DAY),
    })
    gaps = rng.integers(1, 30 * _US_PER_DAY // n_ev, n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(n))) for n in rng.integers(10, 100, n_doc)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return {name: tbl.num_rows for name, tbl in tables.items()}


# ------------------------------------------------------------ serving load


# Zipf exponent of the parameter skew within an endpoint: an assumption
# (no request log of the reference dashboard is available), as are the
# equal endpoint shares of request_mix
ZIPF_S = 1.0


def zipf_weights(n: int) -> list[float]:
    w = [1.0 / (k + 1) ** ZIPF_S for k in range(n)]
    total = sum(w)
    return [x / total for x in w]


def schedule(seed: int, rate: float, seconds: float) -> list[float]:
    """Arrival offsets (seconds from load start) of a Poisson process at
    ``rate``/s conditioned on its expected count: ``round(rate *
    seconds)`` uniform arrivals, sorted, so every run sends the same
    number of requests and its tail percentile keeps its sample count."""
    rng = random.Random(seed)
    return sorted(rng.uniform(0, seconds) for _ in range(round(rate * seconds)))


_PAYER_FRAGMENTS = ["aetna", "blue", "cross", "united", "cigna", "health", "insurance", "life"]
_AUTOCOMPLETE_FIELDS = [
    "billing_class", "payer", "billing_code", "proc_set", "proc_class",
    "primary_taxonomy_desc", "organization_name",
]
# explore-availability categories the mix asks for; each gets a value-grain MV
EXPLORE_CATEGORIES = ["payer", "procedure_set"]


def request_keys() -> list[str]:
    """Every dashboard request path the serving mix can issue over the
    lake ``mrf_batch`` builds, in a fixed order: search by code and by payer,
    search statistics, explore availability, drill-down, category stats,
    rates summary, rates by payer and autocomplete."""
    from urllib.parse import quote, urlencode

    keys: list[str] = []
    for m in range(1, MONTHS + 1):
        scope = {"state": STATE, "year_month": f"2025-{m:02d}"}

        def add(path: str, **params) -> None:
            keys.append(f"{path}?{urlencode({**params, **scope})}")

        for code in CODES:
            add("/api/search/billing-code", billing_code=code)
            add("/api/rates/summary", code=code)
        for frag in _PAYER_FRAGMENTS:
            add("/api/search/payer", payer_name=frag)
        add("/api/search/statistics")
        add("/api/explore/category-stats")
        add("/api/rates/by-payer")
        for cat in EXPLORE_CATEGORIES:
            add("/api/explore/data-availability", category=cat)
        for name in PAYERS[:N_PAYERS]:
            for drill in ("procedure_set", "procedure_class", "taxonomy"):
                add("/api/explore/drill-down", category="payer",
                    selected_value=name, drill_category=drill)
        for field in _AUTOCOMPLETE_FIELDS:
            add(f"/api/autocomplete/{quote(field)}", query="")
    return keys


def request_mix(seed: int, keys: list[str], n: int, endpoints: list[str]) -> list[str]:
    """``n`` request paths: the ``endpoints`` take equal shares of ``n``
    (the first ``n % len(endpoints)`` one more), in a seeded random order,
    and within an endpoint the parameters are drawn Zipf-skewed over its
    keys. Which parameters are popular is fixed per endpoint, not drawn
    from the seed, so seeds differ in arrivals and draws but not in how
    costly the popular requests are."""
    rng = random.Random(seed)
    by_path: dict[str, list[str]] = {}
    for k in keys:
        by_path.setdefault(endpoint(k), []).append(k)
    kinds = [endpoints[i % len(endpoints)] for i in range(n)]
    rng.shuffle(kinds)
    ranked = {path: random.Random(path).sample(ks, len(ks)) for path, ks in by_path.items()}
    return [rng.choices(ranked[p], weights=zipf_weights(len(ranked[p])))[0] for p in kinds]


def endpoint(key: str) -> str:
    """The endpoint of a request path; autocomplete fields share one."""
    path = key.split("?")[0]
    return "/api/autocomplete" if path.startswith("/api/autocomplete/") else path
