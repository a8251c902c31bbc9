"""Tolerant CSV dimension-table source.

Builds the reference's country lookup (``build_country_lut``, reference
src/pipeline.py:56-130) the way the reference does: a plain dict on the
driver, read with Python's ``csv`` module. The fidelity pipeline applies it
as a driver-built LUT through one literal lookup, so the whole ETL runs as
one Spark job. Rules replicated:

- delimiter sniffing over ``; , | \\t`` from a 4 KiB sample (reference
  :88-94); UTF-8 BOM tolerated via ``utf-8-sig`` (reference :87);
- header aliasing: each logical field accepts many spellings, matched
  after lowercasing and removing spaces/underscores/hyphens
  (reference ``FIELD_ALIASES``/:67-80, ``_norm_header``/:82-83); an empty
  value falls through to the next alias (reference get_value :98-107);
- rows with empty country skipped (reference :111-112);
- duplicate (normalized) country keys: LAST occurrence wins
  (reference :123 ``lut[key] = payload``);
- alias keys (usa/us/u.s./uk/uae) back-filled ONLY when the canonical
  long name is already a key, overriding a same-named row (reference
  :126-128) — the asymmetry that produces the 28 fallback rows in the
  golden output.
"""

from __future__ import annotations

import csv
import io
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.strings import COUNTRY_ALIAS
from ..schemas import LOCATION_FIELDS, LOCATION_SCHEMA

# Logical field -> accepted header spellings (reference src/pipeline.py:67-80).
FIELD_ALIASES: dict[str, list[str]] = {
    "country": ["Country", "Country Name", "Country_Name", "CountryName", "Name"],
    "capital": ["Capital", "Capital City", "Capital_City", "CapitalCity"],
    "continent": ["Continent", "Continent Name", "Region", "Subregion"],
    "official language": [
        "Main Official Language", "Main_Official_Language",
        "Official Language", "Official_Language",
        "Language", "Languages",
    ],
    "currency": [
        "Currency", "Currency Code", "Currency_Code",
        "Currency Name", "Currency_Name", "CurrencyName", "ISO Currency",
    ],
}

COUNTRY_DIM_SCHEMA = T.StructType([T.StructField("key", T.StringType()), *LOCATION_SCHEMA])


def _norm_header(h: str) -> str:
    """Lowercase + strip spaces/underscores/hyphens (reference :82-83)."""
    return re.sub(r"[\s_\-]+", "", (h or "").strip().lower())


def sniff_delimiter(csv_path: str) -> str:
    """Sniff the delimiter from a 4 KiB sample (reference :88-94);
    comma on failure."""
    with io.open(csv_path, "r", encoding="utf-8-sig", newline="") as f:
        sample = f.read(4096)
    try:
        dialect = csv.Sniffer().sniff(sample, delimiters=";,|\t,")
        return dialect.delimiter
    except Exception:
        return ","


def country_lut(csv_path: str) -> dict[str, dict[str, str]]:
    """Read the country CSV into ``{normalized country -> LocationData
    payload}`` (the 5 ``LOCATION_FIELDS``, stripped strings).

    Alias keys are back-filled canonical-only, so with the shipped CSV
    (rows named "UK"/"USA") zero alias keys are added — faithfully
    reproducing the reference's fallback behavior for UK/USA facts."""
    with io.open(csv_path, "r", encoding="utf-8-sig", newline="") as f:
        rows = csv.reader(f, delimiter=sniff_delimiter(csv_path))
        header = {_norm_header(h): i for i, h in enumerate(next(rows, []))}
        columns = {
            field: [header[a] for a in map(_norm_header, aliases) if a in header]
            for field, aliases in FIELD_ALIASES.items()
        }
        lut: dict[str, dict[str, str]] = {}
        for row in rows:
            cells = [c.strip() for c in row]
            payload = {
                field: next((cells[i] for i in idx if i < len(cells) and cells[i]), "")
                for field, idx in columns.items()
            }
            if payload["country"]:
                lut[payload["country"].lower()] = payload
    for alias, canonical in COUNTRY_ALIAS.items():
        if canonical in lut:
            lut[alias] = lut[canonical]
    return lut


def read_country_dim(spark: SparkSession, csv_path: str) -> DataFrame:
    """The country LUT as a 6-column DataFrame: ``key`` (normalized
    country) + the 5 payload fields of LocationData. Built from pandas so
    that, with Arrow on, it is a local relation: no Python worker runs."""
    rows = [(key, *(p[f] for f in LOCATION_FIELDS)) for key, p in country_lut(csv_path).items()]
    return spark.createDataFrame(pd.DataFrame(rows, columns=COUNTRY_DIM_SCHEMA.names),
                                 COUNTRY_DIM_SCHEMA)
