"""Tests of the benchmark itself: a corrupted output must fail its check,
span accounting must be exact, and BENCHMARK.json must name what the
benchmark prints.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import checks, report, tracing
from perfbench.workloads import RTN9, RTN_NUM, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENUM = "RecordOperation must be one of A, C or D"


def _write_error_csv(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write("FILENAME|PayeeId|ERROR_DESC\n")
        for payee, desc in rows:
            f.write(f"f.parquet|{payee}|{desc}\n")


@pytest.fixture
def error_csv(tmp_path):
    path = tmp_path / "errors.csv"
    _write_error_csv(path, [
        ("MFR10", f"{RTN9}, {RTN_NUM}"),
        ("DISP11", ENUM),
        ("PC12", f"{ENUM}, {RTN9}"),
    ])
    return str(path)


def test_corrupted_error_csv_fails_the_stream_check(error_csv, tmp_path):
    batch = checks.read_error_rows([error_csv])
    text = open(error_csv, encoding="utf-8").read()
    garbled = tmp_path / "garbled.csv"
    garbled.write_text(text.replace("9 digits", "8 digits"), encoding="utf-8")
    assert checks.check_same_errors(checks.read_error_rows([str(garbled)]), batch)


def test_wrong_header_is_refused(tmp_path):
    path = tmp_path / "bad.csv"
    path.write_text("FILENAME|Payee|ERROR_DESC\nf|p|d\n", encoding="utf-8")
    with pytest.raises(ValueError):
        checks.read_error_rows([str(path)])


def test_stream_output_must_equal_the_batch_output(error_csv):
    batch = checks.read_error_rows([error_csv])
    stream = [dict(r, FILENAME="part-00000.parquet") for r in reversed(batch)]
    assert checks.check_same_errors(stream, batch) == []
    assert checks.check_same_errors(stream[:-1], batch)
    assert checks.check_same_errors(stream + stream[:1], batch)
    corrupted = [dict(stream[0], ERROR_DESC=ENUM)] + stream[1:]
    assert checks.check_same_errors(corrupted, batch)


def test_scenario_check(error_csv):
    rows = checks.read_error_rows([error_csv])
    ok = "CSV errors: 3, DB errors: 3. Row counts MATCH"
    assert checks.check_scenario(ok, rows, {"MFR10": [RTN9, RTN_NUM]}) == []
    assert checks.check_scenario(ok.replace("MATCH", "MISMATCH"), rows, {})
    assert checks.check_scenario(ok, rows, {"DISP11": [RTN9]})
    assert checks.check_scenario(ok, rows, {"R99": [ENUM]})


def test_catalog_result_check():
    cols, rows = ["b", "a"], [(2, {"x": 1.5}), (1, {"x": float("nan")})]
    want = checks.canonical_rows(["a", "b"], [((float("nan"),), 1), ((1.5,), 2)])
    assert checks.check_query("q", checks.canonical_rows(cols, rows), want) == []
    assert checks.check_query("q", checks.canonical_rows(cols, [(2, {"x": 1.5})]), want)
    assert checks.check_query(
        "q", checks.canonical_rows(cols, [(2, {"x": 1.25}), rows[1]]), want)
    assert checks.check_query("q", checks.canonical_rows(["b", "c"], rows), want)


def _span(name, start, end, parent, op=0):
    return tracing.Span(name, start, end, parent, op)


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span("pipeline:validate_file", 0.0, 10.0, None),
        _span("sources.io:read_bankdata", 1.0, 3.0, 0),
        _span("operators.validate:failing_records", 2.0, 5.0, 0),  # overlaps
        _span("operators.validate:with_errors", 2.5, 4.0, 2),
        _span("sources.io:write_single_csv", 6.0, 8.0, 0),
        _span("pipeline:validate_file", 20.0, 21.0, None, op=1),
    ]
    own = tracing.self_times(spans, 0)
    assert own["pipeline"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own["operators.validate"] == pytest.approx(3.0 - 1.5 + 1.5)
    assert own["sources.io"] == pytest.approx(4.0)
    assert tracing.span_totals(spans, 0)["pipeline:validate_file"] == 10.0
    jobs = tracing.jobs_by_span(spans, 0, [2.6, 7.0, 9.0, 30.0])
    assert jobs == {"pipeline:validate_file": 3,
                    "operators.validate:failing_records": 1,
                    "operators.validate:with_errors": 1,
                    "sources.io:read_bankdata": 1,
                    "sources.io:write_single_csv": 1}


def test_benchmark_json_names_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(report.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in report.PER_LAYER]
