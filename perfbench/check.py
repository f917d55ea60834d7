"""Output checks against DuckDB twins, run after the timed region.

Every comparison is order-insensitive: both sides become multisets of
rows rendered with exact types (a float keeps its shortest repr, a date
its ISO form), so a single changed value, a lost row or a duplicated
row all fail.  Each oracle's ``check`` returns a list of problems; an
empty list means the output is correct.
"""

from __future__ import annotations

import csv
import datetime
import glob
import json
import os
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import duckdb

WINDOWS = ("all", "wave_2", "weeks_2", "weeks_1")
QS = [round(0.05 * i, 2) for i in range(1, 20)]


def canon(v) -> str:
    """Exact rendering of one value; dates render as the ISO strings the
    GeoJSON writer emits for them."""
    if isinstance(v, float):
        return "f" + repr(v)
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return "s" + v.isoformat()
    return "s" + str(v) if v is not None else "null"


def row_multiset(rows, cols) -> Counter:
    return Counter("|".join(canon(r[c]) for c in cols) for r in rows)


def compare(what: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [
        f"{what}: {sum(missing.values())} expected rows missing, "
        f"{sum(extra.values())} unexpected rows "
        f"(e.g. missing {next(iter(missing), None)!r}, extra {next(iter(extra), None)!r})"
    ]


def duck_rows(con, sql: str) -> list[dict]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return [dict(zip(cols, r)) for r in res.fetchall()]


def events_connection(parquet_glob: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{parquet_glob}')")
    return con


class DailyMapOracle:
    """Expected ``parse()`` output for one input: per window, the
    polygon feature properties (the ``pipeline_export_<w>`` twin), the
    line feature properties, and the three ``dates.csv`` columns."""

    def __init__(self, events_path: str, sql: dict[str, str]):
        # each window's twin is one mostly serial DuckDB query of about
        # 2 s, so the four run side by side, one connection each
        with ThreadPoolExecutor(len(WINDOWS)) as pool:
            per_window = dict(zip(WINDOWS, pool.map(
                lambda w: _window_expectations(events_path, sql[f"pipeline_export_{w}"], w),
                WINDOWS,
            )))
        self.polygons = {w: e[0] for w, e in per_window.items()}
        self.lines = {w: e[1] for w, e in per_window.items()}
        self.csv = {w: e[2] for w, e in per_window.items()}

    def check(self, artifacts_dir: str) -> list[str]:
        problems: list[str] = []
        for w in WINDOWS:
            cols, want = self.polygons[w]
            feats = _features(os.path.join(artifacts_dir, f"{w}_polygons.geojson"), problems)
            if feats is not None:
                props = [f["properties"] for f in feats]
                if props and sorted(props[0]) != cols:
                    problems.append(f"{w}_polygons: properties {sorted(props[0])} != {cols}")
                else:
                    problems += compare(f"{w}_polygons", row_multiset(props, cols), want)
            feats = _features(os.path.join(artifacts_dir, f"{w}_lines.geojson"), problems)
            if feats is not None:
                props = [f["properties"] for f in feats]
                problems += compare(
                    f"{w}_lines", row_multiset(props, ["date", "num_cases"]), self.lines[w]
                )
        problems += self._check_csv(os.path.join(artifacts_dir, "dates.csv"))
        return problems

    def _check_csv(self, path: str) -> list[str]:
        try:
            with open(path, newline="") as f:
                rows = list(csv.reader(f))
        except OSError as e:
            return [f"dates.csv: {e}"]
        expected = {k: v for w in WINDOWS for k, v in self.csv[w].items()}
        header = rows[0] if rows else []
        if sorted(header) != sorted(expected):
            return [f"dates.csv: header {header} is not the 12 expected columns"]
        problems = []
        for i, name in enumerate(header):
            got = [r[i] for r in rows[1:] if i < len(r) and r[i] != ""]
            want = expected[name]
            if name.endswith("_colors") and len(got) != 19:
                problems.append(f"dates.csv {name}: {len(got)} colours, expected 19")
            elif name.endswith("_colors"):
                got = [repr(float(g)) for g in got]
            if got != want:
                problems.append(f"dates.csv {name}: {got[:5]}... != {want[:5]}...")
        return problems


def _window_expectations(events_path: str, export_sql: str, w: str):
    """(polygon properties, line properties, dates.csv columns) that
    ``parse()`` must write for window ``w``."""
    con = events_connection(events_path)
    try:
        con.execute("CREATE OR REPLACE TEMP TABLE x AS " + export_sql)
        rows = duck_rows(con, "SELECT * FROM x")
        cols = sorted(rows[0]) if rows else []
        dates = [r[0].isoformat() for r in con.execute(
            "SELECT DISTINCT date FROM x ORDER BY 1").fetchall()]
        qs = con.execute(
            f"SELECT list_transform(quantile_cont(normalized, {QS}), q -> round(q, 2)) FROM x"
        ).fetchone()[0]
        totals = con.execute(
            "SELECT sum(num_cases) FROM x GROUP BY date ORDER BY date").fetchall()
    finally:
        con.close()
    sums = [int(t[0]) - (int(totals[i - 1][0]) if i else 0) for i, t in enumerate(totals)]
    csv_cols = {
        f"{w}_dates": dates,
        f"{w}_colors": [repr(float(q)) for q in qs],
        f"{w}_sums": [str(s) for s in sums],
    }
    return (cols, row_multiset(rows, cols)), row_multiset(rows, ["date", "num_cases"]), csv_cols


def _features(path: str, problems: list[str]):
    try:
        with open(path, encoding="utf-8") as f:
            gj = json.load(f)
    except (OSError, ValueError) as e:
        problems.append(f"{os.path.basename(path)}: {e}")
        return None
    if gj.get("type") != "FeatureCollection":
        problems.append(f"{os.path.basename(path)}: not a FeatureCollection")
        return None
    return gj["features"]


class DailyIncrementOracle:
    """Expected streaming outputs: the written per-day dataset (the
    ``st_incremental_export`` twin) and the drained totals (the
    closed-window twin of ``st_daily_totals_incremental``)."""

    EXPORT_COLS = ["date", "event_type", "n_events", "sum_value"]

    def __init__(self, days_dir: str, sql: dict[str, str]):
        con = events_connection(os.path.join(days_dir, "*.parquet"))
        self.export = row_multiset(duck_rows(con, sql["st_incremental_export"]), self.EXPORT_COLS)
        self.totals = row_multiset(duck_rows(con, sql["closed_daily_totals"]), self.EXPORT_COLS)
        con.close()

    def check(self, out_dir: str) -> list[str]:
        con = duckdb.connect()
        problems: list[str] = []
        export_dir = os.path.join(out_dir, "export")
        if not glob.glob(os.path.join(export_dir, "**", "*.parquet"), recursive=True):
            return [f"{export_dir}: no parquet files written"]
        got = duck_rows(
            con,
            f"SELECT CAST(date AS DATE) AS date, event_type, n_events, sum_value "
            f"FROM read_parquet('{export_dir}/**/*.parquet', hive_partitioning = true)",
        )
        problems += compare("export dataset", row_multiset(got, self.EXPORT_COLS), self.export)
        totals = os.path.join(out_dir, "totals")
        got = duck_rows(con, f"SELECT * FROM read_parquet('{totals}/*.parquet')")
        problems += compare("daily totals", row_multiset(got, self.EXPORT_COLS), self.totals)
        con.close()
        return problems


ORACLES = {"daily_map": DailyMapOracle, "daily_increment": DailyIncrementOracle}


def oracle_sql(workload: str) -> dict[str, str]:
    """The package's DuckDB twins a workload's check needs (imports the
    package, so the worker calls this and hands the strings over)."""
    from clear_map_data_pipeline_spark.registry import load_all

    reg = load_all()
    if workload == "daily_map":
        return {f"pipeline_export_{w}": reg[f"pipeline_export_{w}"].sql for w in WINDOWS}
    from clear_map_data_pipeline_spark.queries.streaming import _CLOSED_DAILY_TOTALS_SQL

    return {
        "st_incremental_export": reg["st_incremental_export"].sql,
        "closed_daily_totals": _CLOSED_DAILY_TOTALS_SQL,
    }
