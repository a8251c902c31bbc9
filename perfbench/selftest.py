"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Run from the root of a checkout. It fails (exit code 1) when

- BENCHMARK.json breaks the benchmark's own format rules;
- a run of any workload, untraced or traced, at the smallest input sizes
  (``--small``: sf0.001 tables, a 3,200-line ETL input) does not end with a
  correct result line carrying every declared metric with its unit;
- an output check accepts a deliberately corrupted output, or rejects an
  output that differs from the expected one only in row order or in how
  the JSON writer formats a row.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from checks import EtlExpectation, OracleExpectation, reference_rows  # noqa: E402
from inputs import write_etl_inputs  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> list[str]:
    errors = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        errors.append(f"BENCHMARK.json keys {sorted(spec)} != {sorted(keys)}")
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    errors += [f"bad or repeated name {n!r}" for n in names
               if not NAME.match(n) or names.count(n) > 1]
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            errors.append(f"workload {w['name']}: needs exactly a one-line why")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            errors.append(f"end_to_end {m['name']}: bad keys or bound")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            errors.append(f"per_layer {m['name']}: bad keys")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errors.append(f"{m['name']}: bad unit or direction")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        errors.append("setup_s must be an end_to_end metric in s, lower is better")
    elif setup[0]["bound"] < max(m["bound"] for m in spec["end_to_end"]):
        errors.append("setup_s must have the largest bound")
    return errors


def check_runs(spec: dict) -> list[str]:
    errors = []
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace), "--small"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            where = f"{w['name']} --trace {trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                errors.append(f"{where}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{where}: result keys {sorted(result)}")
                continue
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                errors.append(f"{where}: not correct: {lines[-2][:500]}")
            metrics = result["metrics"]
            for m in declared:
                got = metrics.get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    errors.append(f"{where}: metric {m['name']} missing or without unit")
                elif trace == 0 and got["value"] == 0:
                    errors.append(f"{where}: end-to-end metric {m['name']} is 0")
            extra = set(metrics) - {m["name"] for m in declared}
            if extra:
                errors.append(f"{where}: undeclared metrics {sorted(extra)}")
    return errors


def check_corruption() -> list[str]:
    """Each check must reject a corrupted output and accept a reordered or
    reformatted correct one."""
    errors = []
    work = ROOT / ".perfbench_work"
    work.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        expect = EtlExpectation(reference_rows(*write_etl_inputs(tmp, 7, 3_200)))
    good = expect.lines
    if expect.check_lines(good) is not None:
        errors.append("etl: expected output rejected")
    # null == absent, other key order and spacing: the same rows
    reformatted = type(good)()
    for line, n in good.items():
        row = json.loads(line)
        row.setdefault("DeviceType", None)
        reformatted[json.dumps(dict(reversed(list(row.items()))))] += n
    if expect.check_lines(reformatted) is not None:
        errors.append("etl: reformatted but equal output rejected")
    first = next(iter(good))
    row = json.loads(first)
    row["RaceID"] = (row.get("RaceID") or "") + "x"
    corruptions = {
        "dropped row": good - type(good)([first]),
        "duplicated row": good + type(good)([first]),
        "changed value": good - type(good)([first]) + type(good)([json.dumps(row)]),
        "garbage line": good + type(good)(["{not json"]),
    }
    for what, bad in corruptions.items():
        if expect.check_lines(bad) is None:
            errors.append(f"etl: {what} accepted")

    oracle = OracleExpectation(["k", "v"], [(1, 0.5), (2, None), (3, 1.25)])
    if oracle.check(["v", "k"], [(1.25, 3), (0.5, 1), (None, 2)]) is not None:
        errors.append("query: reordered rows and columns rejected")
    for what, cols, rows in (
        ("changed value", ["k", "v"], [(1, 0.5), (2, None), (3, 1.2500000000000002)]),
        ("null for value", ["k", "v"], [(1, 0.5), (2, 0.0), (3, 1.25)]),
        ("dropped row", ["k", "v"], [(1, 0.5), (2, None)]),
        ("renamed column", ["k", "w"], [(1, 0.5), (2, None), (3, 1.25)]),
    ):
        if oracle.check(cols, rows) is None:
            errors.append(f"query: {what} accepted")
    return errors


def main() -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    errors = check_spec(spec) + check_corruption()
    if not errors:
        errors = check_runs(spec)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    os.chdir(ROOT)
    sys.exit(main())
