"""Tests of the benchmark's own parts: the generator and the output
checks.  The checks are fed outputs built from the DuckDB twins
themselves, then a corrupted copy, so they run without Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

FIXTURE_SCHEMA = [
    ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
    ("event_type", "string"), ("value", "double"), ("props", "string"),
]


def _tiny_events(seed: int = 5) -> pa.Table:
    return gen.events_table(seed, 3_000, 60, 30)


def test_generator_is_deterministic_with_fixture_schema(tmp_path):
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    gen.write_events(_tiny_events(), str(a))
    gen.write_events(_tiny_events(), str(b))
    assert a.read_bytes() == b.read_bytes()
    gen.write_events(_tiny_events(seed=6), str(b))
    assert a.read_bytes() != b.read_bytes()
    schema = pq.read_schema(str(a))
    assert [(f.name, str(f.type)) for f in schema] == FIXTURE_SCHEMA
    fixture_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
    if fixture_dir and os.path.exists(os.path.join(fixture_dir, "events.parquet")):
        fixture = pq.read_schema(os.path.join(fixture_dir, "events.parquet"))
        assert [(f.name, f.type) for f in fixture] == [(f.name, f.type) for f in schema]


def test_daily_files_split_by_day(tmp_path):
    table = _tiny_events()
    assert gen.write_daily_files(table, str(tmp_path)) == 30
    parts = [pq.read_table(str(p)) for p in sorted(tmp_path.iterdir())]
    assert sum(p.num_rows for p in parts) == table.num_rows
    for p in parts:
        days = {t.date() for t in p.column("ts").to_pylist()}
        assert len(days) == 1


def _write_daily_map_artifacts(oracle, sql, events_path, out_dir):
    """Correct parse() artifacts, built from the DuckDB twins."""
    from clear_map_data_pipeline_spark.sources.writers import write_dates_array_csv

    os.makedirs(out_dir)
    con = check.events_connection(events_path)
    for w in check.WINDOWS:
        rows = check.duck_rows(con, sql[f"pipeline_export_{w}"])
        for kind, cols in (("polygons", sorted(rows[0])), ("lines", ["date", "num_cases"])):
            feats = [
                {
                    "type": "Feature",
                    "properties": {
                        c: r[c].isoformat() if c == "date" else r[c] for c in cols
                    },
                    "geometry": None,
                }
                for r in rows
            ]
            with open(os.path.join(out_dir, f"{w}_{kind}.geojson"), "w") as f:
                json.dump({"type": "FeatureCollection", "features": feats}, f)
    cols = {}
    for w in check.WINDOWS:
        csv_cols = oracle.csv[w]
        cols[f"{w}_dates"] = csv_cols[f"{w}_dates"]
        cols[f"{w}_colors"] = [float(c) for c in csv_cols[f"{w}_colors"]]
        cols[f"{w}_sums"] = [int(s) for s in csv_cols[f"{w}_sums"]]
    write_dates_array_csv(os.path.join(out_dir, "dates.csv"), cols)
    con.close()


def test_corrupted_daily_map_output_raises_error_rate(tmp_path):
    events = str(tmp_path / "events.parquet")
    gen.write_events(_tiny_events(), events)
    sql = check.oracle_sql("daily_map")
    oracle = check.DailyMapOracle(events, sql)
    good = str(tmp_path / "good")
    _write_daily_map_artifacts(oracle, sql, events, good)
    assert oracle.check(good) == []

    bad = str(tmp_path / "bad")
    shutil.copytree(good, bad)
    path = os.path.join(bad, "weeks_1_polygons.geojson")
    with open(path) as f:
        gj = json.load(f)
    gj["features"][0]["properties"]["num_cases"] += 1
    with open(path, "w") as f:
        json.dump(gj, f)
    problems = oracle.check(bad)
    assert len(problems) == 1 and problems[0].startswith("weeks_1_polygons")

    iterations = [{"dir": good, "error": None}, {"dir": bad, "error": None}]
    assert run.count_failed(oracle, iterations) / len(iterations) == 0.5


def test_corrupted_dates_csv_fails(tmp_path):
    events = str(tmp_path / "events.parquet")
    gen.write_events(_tiny_events(), events)
    sql = check.oracle_sql("daily_map")
    oracle = check.DailyMapOracle(events, sql)
    out = str(tmp_path / "out")
    _write_daily_map_artifacts(oracle, sql, events, out)
    path = os.path.join(out, "dates.csv")
    with open(path) as f:
        lines = f.read().splitlines()
    lines.pop()  # lose the last row of every ragged column
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    assert any("dates.csv" in p for p in oracle.check(out))


@pytest.mark.parametrize("corrupt", ["drop_totals_row", "drop_export_partition"])
def test_corrupted_daily_increment_output_raises_error_rate(tmp_path, corrupt):
    days = str(tmp_path / "days")
    gen.write_daily_files(_tiny_events(), days)
    sql = check.oracle_sql("daily_increment")
    oracle = check.DailyIncrementOracle(days, sql)
    con = check.events_connection(os.path.join(days, "*.parquet"))
    export = pa.Table.from_pylist(check.duck_rows(con, sql["st_incremental_export"]))
    totals = pa.Table.from_pylist(check.duck_rows(con, sql["closed_daily_totals"]))
    con.close()

    out = str(tmp_path / "iter")
    pq.write_to_dataset(export, os.path.join(out, "export"), partition_cols=["date", "event_type"])
    os.makedirs(os.path.join(out, "totals"))
    pq.write_table(totals, os.path.join(out, "totals", "part-0.parquet"))
    assert oracle.check(out) == []

    if corrupt == "drop_totals_row":
        pq.write_table(totals.slice(1), os.path.join(out, "totals", "part-0.parquet"))
    else:
        victim = sorted(os.listdir(os.path.join(out, "export")))[0]
        shutil.rmtree(os.path.join(out, "export", victim))
    assert run.count_failed(oracle, [{"dir": out, "error": None}]) == 1


def test_failed_iteration_counts_without_output():
    class NeverCalled:
        def check(self, _):
            raise AssertionError("a failed iteration has no output to check")

    assert run.count_failed(NeverCalled(), [{"dir": "-", "error": "Traceback ..."}]) == 1
