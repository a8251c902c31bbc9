"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files. The program under test only ever sees the
files written here.

- ``write_etl_inputs``: fan-engagement JSONL shards plus the country CSV, with
  the trap list of FIXTURES.md sections 1-2 mixed into ordinary rows.
- ``write_tables``: the star-schema, events and documents parquet tables the
  registry reads (same names, column types and value domains as the test
  data described in TESTDATA.md and FIXTURES.md section 4, at a chosen
  scale).
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- fan-engagement ETL --------------------------------------------------

CSV_HEADER = [
    "Country", "Capital", "GDP", "Population ", "Pop_Growth_Rate ",
    "Life_Expectancy", "Median_Age", "Urban_Population", "Continent",
    "Main_Official_Language", "Currency",
]

# (country, capital, continent, official language, currency). The first
# block is always in the CSV: it carries the quoted embedded commas, the
# non-ASCII capitals and the short UK/USA names that make alias lookups miss.
ALWAYS_COUNTRIES = [
    ("USA", "Washington, D.C.", "North America", "English", "US Dollar"),
    ("UK", "London", "Europe", "English", "Pound Sterling"),
    ("United Arab Emirates", "Abu Dhabi", "Asia", "Arabic", "UAE Dirham"),
    ("Brazil", "Brasília", "South America", "Portuguese", "Brazilian Real"),
    ("India", "New Delhi", "Asia", "Hindi, English", "Indian Rupee"),
    ("Colombia", "Bogotá", "South America", "Spanish", "Colombian Peso"),
    ("Iceland", "Reykjavík", "Europe", "Icelandic", "Icelandic Króna"),
    ("South Africa", "Pretoria", "Africa", "Zulu, Xhosa, Afrikaans, English", "Rand"),
]
OPTIONAL_COUNTRIES = [
    ("Spain", "Madrid", "Europe", "Spanish", "Euro"),
    ("France", "Paris", "Europe", "French", "Euro"),
    ("Germany", "Berlin", "Europe", "German", "Euro"),
    ("Italy", "Rome", "Europe", "Italian", "Euro"),
    ("Japan", "Tokyo", "Asia", "Japanese", "Yen"),
    ("China", "Beijing", "Asia", "Mandarin", "Renminbi"),
    ("Mexico", "Mexico City", "North America", "Spanish", "Mexican Peso"),
    ("Canada", "Ottawa", "North America", "English, French", "Canadian Dollar"),
    ("Australia", "Canberra", "Oceania", "English", "Australian Dollar"),
    ("Argentina", "Buenos Aires", "South America", "Spanish", "Argentine Peso"),
    ("Nigeria", "Abuja", "Africa", "English", "Naira"),
    ("Egypt", "Cairo", "Africa", "Arabic", "Egyptian Pound"),
    ("Kenya", "Nairobi", "Africa", "Swahili, English", "Kenyan Shilling"),
    ("Turkey", "Ankara", "Asia", "Turkish", "Turkish Lira"),
    ("Sweden", "Stockholm", "Europe", "Swedish", "Swedish Krona"),
    ("Norway", "Oslo", "Europe", "Norwegian", "Norwegian Krone"),
    ("Poland", "Warsaw", "Europe", "Polish", "Złoty"),
    ("Peru", "Lima", "South America", "Spanish, Quechua", "Sol"),
    ("Chile", "Santiago", "South America", "Spanish", "Chilean Peso"),
    ("Vietnam", "Hanoi", "Asia", "Vietnamese", "Đồng"),
    ("Morocco", "Rabat", "Africa", "Arabic, Berber", "Moroccan Dirham"),
    ("New Zealand", "Wellington", "Oceania", "English, Māori", "NZ Dollar"),
    ("Portugal", "Lisbon", "Europe", "Portuguese", "Euro"),
    ("Greece", "Athens", "Europe", "Greek", "Euro"),
]
N_CSV_ROWS = 25

ALIASES = ["UK", "USA", "us", "u.s.", "uae", "Uk", " USA "]
UNKNOWN_COUNTRIES = ["Atlantis", "España", "Côte d'Ivoire", "Narnia", "Österreich"]
DEVICES = ["Mobile", "Desktop", "Tablet", "SmartTV"]
DEVICE_TRAPS = ["Other", " Other ", "other", "Other ", ""]
RACE_IDS = ["Cup 25", "league:04", "race_11", "Race 7", "GP-2025", "cup 3"]
RACE_TRAPS = ["cup", "25", "c1u2p3", "!!!", "", "Race ٣", "25 Cup"]
MALFORMED = [
    '{"FanID": "F1", "RaceID": ',
    "not json at all",
    "{'FanID': 'single quotes'}",
    '{"FanID": "F2",}',
    "",
]
NON_OBJECTS = ["[1, 2]", '"just a string"', "42", "null", "true", "[]"]


def _country_rows(rng: random.Random) -> list[list[str]]:
    picked = ALWAYS_COUNTRIES + rng.sample(
        OPTIONAL_COUNTRIES, N_CSV_ROWS - len(ALWAYS_COUNTRIES)
    )
    rng.shuffle(picked)
    rows = []
    for country, capital, continent, language, currency in picked:
        rows.append([
            country, capital, str(rng.randint(50, 25000)),
            f"{rng.uniform(1, 1400):.1f}", f"{rng.uniform(-1, 3):.1f}",
            str(rng.randint(55, 85)), f"{rng.uniform(18, 48):.1f}",
            f"{rng.uniform(20, 99):.1f}", continent, language, currency,
        ])
    return rows


def _csv_line(cells: list[str]) -> str:
    return ",".join(f'"{c}"' if ("," in c or '"' in c) else c for c in cells)


def _fact_line(rng: random.Random, n: int, countries: list[str]) -> str:
    r = rng.random()
    if r < 0.006:
        return rng.choice(MALFORMED)
    if r < 0.012:
        return rng.choice(NON_OBJECTS)
    row: dict = {
        "FanID": f"F{n:06d}" if rng.random() > 0.02 else f"Fñ{n}",
        "RaceID": rng.choice(RACE_IDS) if rng.random() > 0.1 else rng.choice(RACE_TRAPS),
        "Timestamp": (
            f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
        ),
        "ViewerLocationCountry": None,
        "DeviceType": rng.choice(DEVICES) if rng.random() > 0.12 else rng.choice(DEVICE_TRAPS),
        "EngagementMetric_secondswatched": rng.randint(0, 7200),
        "PredictionClicked": rng.random() < 0.3,
        "MerchandisingClicked": rng.random() < 0.2,
    }
    c = rng.random()
    if c < 0.70:
        name = rng.choice(countries)
        v = rng.random()
        row["ViewerLocationCountry"] = (
            name if v < 0.8 else name.lower() if v < 0.9 else f"  {name} "
        )
    elif c < 0.82:
        row["ViewerLocationCountry"] = rng.choice(ALIASES)
    elif c < 0.94:
        row["ViewerLocationCountry"] = rng.choice(UNKNOWN_COUNTRIES)
    elif c < 0.97:
        del row["ViewerLocationCountry"]
    # else: explicit JSON null
    # Absent and explicit-null variants of the fields the reference
    # treats specially.
    m = rng.random()
    if m < 0.02:
        del row["DeviceType"]
    elif m < 0.03:
        row["DeviceType"] = None
    elif m < 0.04:
        del row["RaceID"]
    elif m < 0.05:
        row["RaceID"] = None
    elif m < 0.06:
        del row["EngagementMetric_secondswatched"]
    return json.dumps(row, ensure_ascii=rng.random() < 0.5)


def write_etl_inputs(out_dir: str, seed: int, n_lines: int, n_files: int = 32) -> tuple[str, str]:
    """Write ``n_lines`` JSONL lines over ``n_files`` shards and a 25-row
    BOM-prefixed country CSV. Returns (json glob, csv path)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = _country_rows(rng)
    csv_path = os.path.join(out_dir, "country_data.csv")
    with open(csv_path, "w", encoding="utf-8-sig", newline="") as f:
        f.write(_csv_line(CSV_HEADER) + "\n")
        for r in rows:
            f.write(_csv_line(r) + "\n")
    countries = [r[0] for r in rows]
    per_file, extra = divmod(n_lines, n_files)
    n = 0
    for i in range(n_files):
        lines = []
        for _ in range(per_file + (1 if i < extra else 0)):
            lines.append(_fact_line(rng, n, countries))
            n += 1
        with open(os.path.join(out_dir, f"fan_engagement-{i:03d}.jsonl"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    return os.path.join(out_dir, "fan_engagement-*.jsonl"), csv_path


# --- registry tables -------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
VOCAB = [
    "row", "the", "query", "stream", "fast", "spark", "line", "small",
    "customer", "group", "value", "hash", "batch", "sort", "data", "big",
    "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
    "merge", "window", "order", "column", "join", "vector",
]
DAY_US = 86_400_000_000


def _days_ts(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # planted near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n).tolist()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def write_tables(out_dir: str, seed: int, names: tuple[str, ...], sf: float = 0.001,
                 n_docs: int = 0) -> str:
    """Write the named registry tables at scale factor ``sf`` (row counts as
    in TESTDATA.md: 1.5M orders and 4 lineitems per order per unit
    sf); ``documents`` has ``n_docs`` rows. Each table draws from its own
    seeded stream, so its content does not depend on which others are
    written."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_li, n_ev = 4 * n_ord, max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    tables = {
        "region": lambda r: pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": lambda r: pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": lambda r: pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": r.choice(SEGMENTS, n_cust).tolist(),
        }),
        "supplier": lambda r: pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }),
        "part": lambda r: pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n_part)],
            "p_type": r.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": lambda r: pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": r.choice(["P", "O", "F"], n_ord).tolist(),
            "o_totalprice": _money(r, 1000, 500_000, n_ord),
            "o_orderdate": _days_ts(r, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": r.choice(PRIORITIES, n_ord).tolist(),
        }),
        "lineitem": lambda r: pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": r.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": _days_ts(r, "1995-01-02", "2001-11-04", n_li),
        }),
        "events": lambda r: pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype("int64")
                + np.sort(r.integers(0, 30 * DAY_US, n_ev)),
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": r.choice(EVENT_TYPES, n_ev).tolist(),
            "value": _money(r, 0.01, 490.02, n_ev),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }),
        "documents": lambda r: _documents(r, n_docs),
    }
    for i, name in enumerate(tables):
        if name in names:
            table = tables[name](np.random.default_rng([seed, i]))
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
