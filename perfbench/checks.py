"""Output checks, independent of the package under test.

- The fan-engagement ETL is checked against the reference pipeline's own
  per-row logic (vendored below from the Beam reference, as in
  ``bench_fidelity.py``), order-insensitive, with null treated as absent.
- Registry queries are checked against their DuckDB oracle SQL over the same
  parquet files, with the canonical cell form of ``tests/test_oracle.py``.
"""

from __future__ import annotations

import csv
import glob
import io
import json
import math
import os
import re
from collections import Counter

# --- reference per-row ETL logic (reference src/pipeline.py:21-200) --------

_WORDS = re.compile(r"[A-Za-z]+")
_DIGITS = re.compile(r"\d+")
ALIAS = {"usa": "united states", "us": "united states", "u.s.": "united states",
         "uk": "united kingdom", "uae": "united arab emirates"}
KEEP = ["FanID", "RaceID", "Timestamp", "DeviceType",
        "EngagementMetric_secondswatched", "PredictionClicked",
        "MerchandisingClicked", "LocationData"]
LOCATION = ["country", "capital", "continent", "official language", "currency"]


def standardize_race_id(val):
    if not isinstance(val, str):
        return val
    text = val.strip()
    word = "".join(_WORDS.findall(text)).lower()
    digits = "".join(_DIGITS.findall(text))
    if word and digits:
        return f"{word}{digits}"
    return re.sub(r"[^0-9a-zA-Z]", "", text).lower()


def build_lut(csv_path: str) -> dict:
    lut = {}
    with io.open(csv_path, "r", encoding="utf-8-sig", newline="") as f:
        for row in csv.DictReader(f):
            country = (row.get("Country") or "").strip()
            if not country:
                continue
            lut[country.lower()] = {
                "country": country,
                "capital": (row.get("Capital") or "").strip(),
                "continent": (row.get("Continent") or "").strip(),
                "official language": (row.get("Main_Official_Language") or "").strip(),
                "currency": (row.get("Currency") or "").strip(),
            }
    for a, c in ALIAS.items():
        if c in lut:
            lut[a] = lut[c]
    return lut


def reference_rows(json_glob: str, csv_path: str) -> list[dict]:
    """The reference pipeline's output rows for the given inputs."""
    lut = build_lut(csv_path)
    out = []
    for path in sorted(glob.glob(json_glob)):
        with open(path, encoding="utf-8") as fin:
            for line in fin:
                try:
                    row = json.loads(line)
                except ValueError:
                    continue
                if not isinstance(row, dict):
                    continue
                if str(row.get("DeviceType", "")).strip() == "Other":
                    continue
                row["RaceID"] = standardize_race_id(row.get("RaceID", ""))
                raw = row.pop("ViewerLocationCountry", None)
                key = ALIAS.get((raw or "").strip().lower(), (raw or "").strip().lower())
                row["LocationData"] = lut.get(key) or {
                    "country": (raw or "").strip(), "capital": "", "continent": "",
                    "official language": "", "currency": "",
                }
                out.append({k: row.get(k) for k in KEEP})
    return out


def _spark_json_line(row: dict) -> str:
    """The line Spark's JSON writer emits for ``row``: KEEP order, null
    fields omitted, compact separators, non-ASCII unescaped."""
    return json.dumps({k: v for k, v in row.items() if v is not None},
                      ensure_ascii=False, separators=(",", ":"))


def _canon_etl(row: dict) -> tuple:
    loc = row.get("LocationData") or {}
    return tuple(row.get(k) for k in KEEP[:-1]) + tuple(loc.get(f) for f in LOCATION)


class EtlExpectation:
    """Expected output of one ETL input set, compared order-insensitively.

    The fast path compares output lines verbatim against the lines Spark's
    writer is expected to produce; only when they differ does the check
    parse every line and compare values with null == absent, so a change of
    formatting alone is not reported as a wrong result."""

    def __init__(self, rows: list[dict]) -> None:
        self.rows = rows
        self.lines = Counter(_spark_json_line(r) for r in rows)
        self._canon: Counter | None = None

    def check_lines(self, lines: Counter) -> str | None:
        """None when ``lines`` is the expected output, else the reason."""
        if lines == self.lines:
            return None
        if self._canon is None:
            self._canon = Counter(_canon_etl(r) for r in self.rows)
        got = Counter()
        for line, n in lines.items():
            try:
                got[_canon_etl(json.loads(line))] += n
            except ValueError:
                return f"unparseable output line {line[:80]!r}"
        if got == self._canon:
            return None
        missing = sum((self._canon - got).values())
        extra = sum((got - self._canon).values())
        return f"{missing} expected rows missing, {extra} unexpected rows"

    def check_dir(self, out_dir: str) -> str | None:
        return self.check_lines(read_output_lines(out_dir))


def read_output_lines(out_dir: str) -> Counter:
    lines: Counter = Counter()
    for path in glob.glob(os.path.join(out_dir, "part-*")):
        with open(path, encoding="utf-8") as f:
            lines.update(line.rstrip("\n") for line in f if line.strip())
    return lines


# --- registry queries ------------------------------------------------------

def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v:.17g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return f"s:{v}"


def multiset(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_cell(r[i]) for i in order) for r in rows)


class OracleExpectation:
    """The DuckDB oracle's result for one query, as a column-name-sorted
    value multiset."""

    def __init__(self, cols: list[str], rows: list[tuple]) -> None:
        self.cols = sorted(cols)
        self.rows = multiset(cols, rows)

    def check(self, cols: list[str], rows: list[tuple]) -> str | None:
        if sorted(cols) != self.cols:
            return f"columns {sorted(cols)} != oracle {self.cols}"
        got = multiset(cols, rows)
        if got == self.rows:
            return None
        return (f"{sum((self.rows - got).values())} oracle rows missing, "
                f"{sum((got - self.rows).values())} unexpected rows")


def oracle_expectations(table_dir: str, oracles: dict[str, str]) -> dict[str, OracleExpectation]:
    import duckdb

    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            cur = con.sql(sql)
            out[name] = OracleExpectation([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
