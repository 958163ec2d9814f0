"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import landing  # noqa: E402
import suitedata  # noqa: E402
from spans import Span, layer_metrics, self_times  # noqa: E402


def _tree_hash(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_landing_generator_is_byte_identical_for_a_seed(tmp_path):
    a = landing.generate(str(tmp_path / "a"), seed=7, multiplier=0.2)
    b = landing.generate(str(tmp_path / "b"), seed=7, multiplier=0.2)
    c = landing.generate(str(tmp_path / "c"), seed=8, multiplier=0.2)
    assert a == b
    assert _tree_hash(str(tmp_path / "a")) == _tree_hash(str(tmp_path / "b"))
    assert _tree_hash(str(tmp_path / "a")) != _tree_hash(str(tmp_path / "c"))
    assert len(_tree_hash(str(tmp_path / "a"))) == 6  # 3 years x 2 genders


def test_landing_generator_covers_the_edge_cases(tmp_path):
    import csv

    manifest = landing.generate(str(tmp_path), seed=3, multiplier=1.0)
    t = landing.totals(manifest)
    assert t["rows"] == sum(landing.REFERENCE_ROWS.values())
    for k in ("dnf", "dns", "dq", "finisher_no_rank", "flagged", "time_mismatch", "null_country"):
        assert t[k] > 0, k
    rows = []
    for f in manifest["files"]:
        with open(tmp_path / f"year={f['year']}" / f["filename"], encoding="utf-8") as fh:
            rows += [(f["year"], f["gender"], r) for r in csv.DictReader(fh)]
    assert all(len(r) == 30 for _, _, r in rows)
    names = [(y, g, r["athlete_name"]) for y, g, r in rows]
    assert len(set(names)) < len(names)  # duplicate (year, gender, name) pairs
    assert any(" " not in n for _, _, n in names)  # single-token names
    assert any(c in n for _, _, n in names for c in "'-.")  # punctuation
    assert any(r["finish_time"] == "-" for _, _, r in rows)  # "-" nulls


def test_suite_generator_is_deterministic():
    a, b = suitedata.tables(5), suitedata.tables(5)
    assert sorted(a) == sorted(suitedata.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not suitedata.tables(6)["lineitem"].equals(a["lineitem"])


def test_self_time_on_a_synthetic_span_tree():
    # root [0,10] > a [1,4] > a1 [2,3]; root > b [5,9]; a second root [20,21]
    spans = [
        Span(0, "root", None, 0.0, 10.0, "g0"),
        Span(1, "a", 0, 1.0, 4.0, "g1"),
        Span(2, "a1", 1, 2.0, 3.0, "g2"),
        Span(3, "b", 0, 5.0, 9.0, "g3"),
        Span(4, "a", None, 20.0, 21.0, "g4"),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0, 4: 1.0}
    assert sum(st.values()) == 11.0  # self times partition the root durations
    jobs = {g: {"jobs": j, "stages": 0, "tasks": 0, "task_ms": 0, "shuffle_bytes": 0,
                "input_bytes": 0} for g, j in (("g0", 1), ("g1", 2), ("g2", 3), ("g3", 0), ("g4", 5))}
    m = layer_metrics(spans, jobs)
    assert m["a.s"] == 3.0 and m["a.calls"] == 2 and m["a.jobs"] == 7
    assert m["root.s"] == 3.0 and m["root.jobs"] == 1
    assert m["spark.jobs"] == 11


def _result(**kw):
    base = dict(bronze_rows=10, silver_rows=10, fact_rows=10, duplicate_row_keys=0,
                unmatched_fks={"athletes": 0, "divisions": 0, "countries": 1},
                views_created=["v"] * 15,
                silver_quality={"finisher_has_rank": 2, "finisher_has_finish_time": 0,
                                "flagged_rows": 3, "in_set(source_gender)": 0,
                                "non_null(row_key)": 0})
    base.update(kw)
    return SimpleNamespace(**base)


COUNTS = {"rows": 10, "finisher_no_rank": 2, "flagged": 3, "null_country": 1}


def test_load_check_fails_a_dropped_row():
    assert checks.check_load(_result(), COUNTS) == []
    problems = checks.check_load(_result(fact_rows=9), COUNTS)
    assert problems == ["fact_rows = 9, expected 10"]


def test_digest_check_fails_a_dropped_row():
    import pandas as pd

    pdf = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, None, 1.25]})
    want = checks.digest(checks.rows_of(pdf))
    shuffled = pdf.iloc[[2, 0, 1]]
    assert checks.compare_digests("q", checks.digest(checks.rows_of(shuffled)), want) == []
    dropped = checks.digest(checks.rows_of(pdf.iloc[:2]))
    assert checks.compare_digests("q", dropped, want) == ["q: 2 rows, expected 3"]
    changed = pdf.assign(v=[0.5, None, 1.5])
    assert checks.compare_digests("q", checks.digest(checks.rows_of(changed)), want) != []


def test_benchmark_json_matches_the_reported_metrics():
    import json

    import run

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["end_to_end"] + spec["per_layer"])
