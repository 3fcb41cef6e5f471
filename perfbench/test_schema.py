"""Schema test for BENCHMARK.json and the metrics run.py prints.

    python3 -m pytest perfbench/test_schema.py -q

Needs no Spark session.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_top_level_keys_and_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= len(spec["command"]) <= 32
    assert all(len(a) <= 200 and not a.startswith("/") and ".." not in a
               for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    assert all(PATH.match(p) and ".." not in p for p in spec["paths"])
    assert isinstance(spec["run_seconds"], int)
    assert 1 <= spec["run_seconds"] <= 60
    assert os.path.getsize(os.path.join(run.ROOT, "BENCHMARK.json")) <= 65536


def test_workloads_exist():
    ws = _spec()["workloads"]
    assert 2 <= len(ws) <= 8
    for w in ws:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"]) and w["name"] in workloads.NAMES
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metric_entries():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
        names.append(m["name"])
    assert len(names) == len(set(names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_printed_metrics_match_spec():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_reference_covers_every_variant():
    ref = checks.load_reference()
    for name in workloads.NAMES:
        if name == "points_city":
            continue
        assert sorted(map(int, ref[name])) == \
            list(range(workloads.REFERENCE_VARIANTS))


def test_points_expected_counts_every_page_once_per_zoom():
    got = checks.points_expected(seed=3)
    assert sorted(got) == list(range(checks.PAGES_MIN_ZOOM, 15))
    assert all(f == workloads.POINTS_PAGES for _n, f in got.values())
    # tiles only split going deeper
    counts = [got[z][0] for z in sorted(got)]
    assert counts == sorted(counts)
