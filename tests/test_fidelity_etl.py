"""Golden-free end-to-end tests of the fidelity ETL.

Seeded trap-laden fan-engagement lines (FIXTURES.md §1) and a BOM country
CSV (FIXTURES.md §2) are written to a temporary directory; the Spark
pipeline's output is compared, order-insensitively with null == absent,
against the reference's per-row logic vendored in ``bench_fidelity.py``.
A job-shape gate keeps the ETL at one Spark job with no exchange or join.
"""

from __future__ import annotations

import json
import random
from collections import Counter

import pytest

from bench_fidelity import build_lut, python_runner

CSV_ROWS = [
    ["Country", "Capital", "GDP", "Population ", "Pop_Growth_Rate ", "Continent",
     "Main_Official_Language", "Currency"],
    ["USA", '"Washington, D.C."', "25000", "333.3", "0.5", "North America", "English", "US Dollar"],
    ["UK", "London", "3100", "67.0", "0.4", "Europe", "English", "Pound Sterling"],
    ["United Arab Emirates", "Abu Dhabi", "500", "9.4", "0.8", "Asia", "Arabic", "UAE Dirham"],
    ["Brazil", "Brasília", "2100", "216.4", "0.4", "South America", "Portuguese",
     "Brazilian Real"],
    ["India", "Old Delhi", "3700", "1428.6", "0.8", "Asia", '"Hindi, English"', "Indian Rupee"],
    ["", "Ghost", "1", "1", "1", "Nowhere", "None", "None"],
    ["India", "New Delhi", "3700", "1428.6", "0.8", "Asia", '"Hindi, English"', "Indian Rupee"],
    ["Iceland", "Reykjavík", "30", "0.4", "1.7", "Europe", "Icelandic", "Icelandic Króna"],
    ["Côte d'Ivoire", '"Yamoussoukro ""Yakro"""', "70", "28.2", "2.5", "Africa", "French",
     "CFA \\ franc"],
]
COUNTRIES = ["USA", "UK", "United Arab Emirates", "Brazil", "India", "Iceland", "Côte d'Ivoire"]
ALIASES = ["UK", "USA", "us", "u.s.", "uae", "Uk", " USA "]
UNKNOWN = ["Atlantis", "España", "Narnia"]
DEVICES = ["Mobile", "Desktop", "Tablet", "SmartTV", "Other", " Other ", "other", ""]
RACE_IDS = ["Cup 25", "league:04", "race_11", "cup", "25", "c1u2p3", "!!!", "", "25 Cup",
            "Race ٣"]
BAD_LINES = ['{"FanID": "F1", "RaceID": ', "not json at all", '{"FanID": "F2",}', "",
             "[1, 2]", '"just a string"', "42", "null", "[]"]


def _fact_line(rng: random.Random, n: int) -> str:
    if rng.random() < 0.05:
        return rng.choice(BAD_LINES)
    row = {
        "FanID": f"F{n:04d}",
        "RaceID": rng.choice(RACE_IDS),
        "Timestamp": f"2025-06-{rng.randint(1, 28):02d} 20:00:{rng.randint(0, 59):02d}",
        "ViewerLocationCountry": rng.choice(
            [rng.choice(COUNTRIES), rng.choice(COUNTRIES).lower(),
             f"  {rng.choice(COUNTRIES)} ", rng.choice(ALIASES), rng.choice(UNKNOWN), None]
        ),
        "DeviceType": rng.choice(DEVICES),
        "EngagementMetric_secondswatched": rng.randint(0, 7200),
        "PredictionClicked": rng.random() < 0.3,
        "MerchandisingClicked": rng.random() < 0.2,
    }
    for key in ("ViewerLocationCountry", "DeviceType", "RaceID"):
        if rng.random() < 0.04:
            del row[key]
    return json.dumps(row, ensure_ascii=rng.random() < 0.5)


@pytest.fixture(scope="module")
def etl_inputs(tmp_path_factory):
    """(json glob, csv path, expected rows) for 3 shards of 100 lines."""
    d = tmp_path_factory.mktemp("etl")
    rng = random.Random(20250603)
    for shard in range(3):
        lines = [_fact_line(rng, 100 * shard + i) for i in range(100)]
        (d / f"fan_engagement-{shard}.jsonl").write_text("\n".join(lines) + "\n", encoding="utf-8")
    csv_path = d / "country_data.csv"
    csv_path.write_text("\n".join(",".join(r) for r in CSV_ROWS) + "\n", encoding="utf-8-sig")
    python_runner(sorted(d.glob("*.jsonl")), d / "expected.out", build_lut(str(csv_path)))
    with open(d / "expected.out", encoding="utf-8") as f:
        expected = [json.loads(line) for line in f]
    return str(d / "*.jsonl"), str(csv_path), expected


def canon(rows) -> Counter:
    """Order-insensitive multiset of rows with null and absent collapsed."""
    def scrub(v):
        if isinstance(v, dict):
            return {k: scrub(x) for k, x in v.items() if x is not None}
        return v

    return Counter(json.dumps(scrub(r), sort_keys=True, ensure_ascii=False) for r in rows)


def test_fidelity_matches_reference_logic(spark, etl_inputs):
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

    json_glob, csv_path, expected = etl_inputs
    got = [r.asDict(recursive=True) for r in build_fidelity_df(spark, json_glob, csv_path).collect()]
    assert len(expected) > 200
    assert canon(got) == canon(expected)
    # the traps really are exercised: alias facts miss the LUT, hits carry
    # the last duplicate and quotes, commas and backslashes verbatim
    capitals = Counter(r["LocationData"]["capital"] for r in got)
    assert capitals[""] and capitals["New Delhi"] and not capitals["Old Delhi"]
    assert capitals['Yamoussoukro "Yakro"']
    hits = {(r["LocationData"]["official language"], r["LocationData"]["currency"]) for r in got}
    assert {("Hindi, English", "Indian Rupee"), ("French", "CFA \\ franc")} <= hits
    assert {r["LocationData"]["country"] for r in got if r["LocationData"]["capital"] == ""} >= {
        "UK", "USA"}


def test_fidelity_stream_matches_batch(spark, etl_inputs):
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
        build_fidelity_df,
        build_fidelity_stream,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _drain

    json_glob, csv_path, _ = etl_inputs
    stream = _drain(build_fidelity_stream(spark, json_glob, csv_path), "append")
    batch = build_fidelity_df(spark, json_glob, csv_path)
    assert canon(r.asDict(recursive=True) for r in stream.collect()) == canon(
        r.asDict(recursive=True) for r in batch.collect())


def _group_jobs(spark, group: str) -> list[int]:
    """Job ids of ``group`` once the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_fidelity_etl_is_one_job(spark, etl_inputs, tmp_path):
    """Building the plan runs no job; writing it runs exactly one, with no
    Exchange and no Join in the physical plan."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

    json_glob, csv_path, _ = etl_inputs
    sc = spark.sparkContext
    try:
        sc.setJobGroup("fidelity-build", "build", False)
        df = build_fidelity_df(spark, json_glob, csv_path)
        assert _group_jobs(spark, "fidelity-build") == []
        sc.setJobGroup("fidelity-write", "write", False)
        df.write.mode("overwrite").json(str(tmp_path / "out"))
        assert len(_group_jobs(spark, "fidelity-write")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
