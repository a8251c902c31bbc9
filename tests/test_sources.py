"""Unit tests for the tolerant sources (FIXTURES.md edge variants):
CSV delimiter sniffing, header aliasing, duplicate/empty-country rows,
alias back-fill override; JSONL dict-only rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_apache_beam_entrega1_cs_spark.schemas import FAN_ENGAGEMENT_SCHEMA


def write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content, encoding="utf-8")
    return str(p)


@pytest.mark.parametrize("delim", [",", ";", "|", "\t"])
def test_csv_delimiter_sniffing(spark, tmp_path, delim):
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    rows = [
        ["Country", "Capital", "Continent", "Main_Official_Language", "Currency"],
        ["Testland", "Testville", "Testca", "Testish", "TST"],
    ]
    path = write(tmp_path, f"d_{ord(delim)}.csv", "\n".join(delim.join(r) for r in rows))
    out = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert out["testland"].capital == "Testville"


def test_csv_header_aliases_and_fallthrough(spark, tmp_path):
    """Alternate header spellings resolve; an empty value in the first
    matching alias column falls through to the next (reference get_value
    semantics)."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country Name,Capital City,Region,Language,Languages,Currency Code\n"
        "Aland,Acity,Acont,,Aish,AAA\n"
    )
    path = write(tmp_path, "alias.csv", csv)
    row = read_country_dim(spark, path).collect()[0]
    assert row.key == "aland"
    assert row.continent == "Acont"          # Region alias
    assert row["official language"] == "Aish"  # empty Language -> Languages
    assert row.currency == "AAA"


def test_csv_duplicate_last_wins_and_empty_skipped(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        "Dupland,First,X,Y,Z\n"
        ",Ghost,X,Y,Z\n"
        "Dupland,Second,X,Y,Z\n"
    )
    path = write(tmp_path, "dup.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["dupland"].capital == "Second"
    assert len(rows) == 1  # empty-country row skipped


def test_csv_alias_backfill_overrides_existing_row(spark, tmp_path):
    """lut[alias] = lut[canonical] OVERWRITES a same-named CSV row
    (reference src/pipeline.py:126-128)."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        "uk,WrongCap,X,Y,Z\n"
        "United Kingdom,London,Europe,English,GBP\n"
    )
    path = write(tmp_path, "backfill.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["uk"].capital == "London"  # alias payload wins over the uk row
    assert rows["united kingdom"].capital == "London"


def test_csv_bom_tolerated(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = "﻿Country,Capital,Continent,Main_Official_Language,Currency\nBomland,Bcity,Bc,Bl,BBB\n"
    path = write(tmp_path, "bom.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["bomland"].capital == "Bcity"


def test_csv_doubled_quotes_unescaped(spark, tmp_path):
    """RFC-4180 doubled quotes inside a quoted field unescape, as Python's
    csv module (the reference's reader) reads them."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        'Quoteland,"The ""Big"" City",X,Y,Z\n'
    )
    path = write(tmp_path, "quotes.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["quoteland"].capital == 'The "Big" City'


def test_csv_header_only_gives_fallback_for_every_row(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import enrich_with_country
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import (
        country_lut,
        read_country_dim,
    )

    path = write(tmp_path, "header_only.csv",
                 "Country,Capital,Continent,Main_Official_Language,Currency\n")
    lut = country_lut(path)
    assert lut == {}
    assert read_country_dim(spark, path).count() == 0
    facts = spark.createDataFrame([(" Brazil ",), ("UK",), (None,)], "ViewerLocationCountry string")
    got = sorted(tuple(r.LocationData) for r in enrich_with_country(facts, lut).collect())
    assert got == [("", "", "", "", ""), ("Brazil", "", "", "", ""), ("UK", "", "", "", "")]


def test_jsonl_dict_only_rule(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

    lines = [
        '{"FanID": "F1", "DeviceType": "Mobile"}',
        "[1,2]",
        "garbage",
        '"scalar"',
        "123",
        "null",
        "{}",
        '{"FanID": 7}',
    ]
    path = write(tmp_path, "mixed.jsonl", "\n".join(lines))
    rows = read_jsonl_dicts(spark, path, FAN_ENGAGEMENT_SCHEMA).collect()
    # kept: the dict, the empty dict, and the numeric-FanID dict (coerced)
    assert len(rows) == 3
    fanids = sorted(str(r.FanID) for r in rows)
    assert fanids == ["7", "F1", "None"]


def test_custom_python_datasource_partitions(spark):
    """The custom Python DataSource must expose REAL read parallelism:
    4 input partitions each producing its residue class, and the full
    id range arriving exactly once."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.sources.custom_source import (
        DeterministicRowsSource,
    )

    spark.dataSource.register(DeterministicRowsSource)
    df = spark.read.format("graft_rows").option("n", 40).load()
    parts = (
        df.select("id", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_set(F.col("id") % 4).alias("resid"))
        .collect()
    )
    assert len(parts) == 4 and all(r["n"] == 10 for r in parts)
    assert all(len(r["resid"]) == 1 for r in parts)  # one residue class each
    ids = sorted(r["id"] for r in df.select("id").collect())
    assert ids == list(range(40))
