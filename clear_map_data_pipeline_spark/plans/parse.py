"""The COMPLETE reference ``parse()`` (il_analysis_git.py:33-213), end
to end with geometry and sinks: clean -> 4-case reconcile (geometry
dissolve included) -> censored rebase -> broadcast dim join (geometry
attached, ref :126) -> last-value stats -> per-window export frames ->
per-window GeoJSON polygon + boundary-line files (ref :170-175) -> the
ragged 12-column dates/colors/sums CSV (ref :201-213).

Geometry flows as a WKT StringType column inside the one Catalyst plan
(SURVEY §7.4) — it is never touched by the relational operators, only
by the spatial dissolve (case-3 cities) and the boundary/GeoJSON
encodes at the sink edge.

Scale shape: ONE pinned computation of the clean->reconcile->rebase->
join->stats prefix serves all four windows (SURVEY §4 X3); per window,
the polygon file is the export frame itself, the lines file a
3-column projection + ST_Boundary (S5), and the dates-CSV columns come
from two tiny aggregates (19-quantile vector of ``normalized``; daily
delta sums, whose date keys are the window's distinct dates).
Artifacts are feature-count-small (the reference writes single files).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachereg import release_all
from ..operators import spatial as sp
from ..operators import stats
from ..sources.writers import write_dates_array_csv, write_geojson
from .clearmap import WINDOWS, run_pipeline


def _lines_frame(export: DataFrame) -> DataFrame:
    """S5 (ref :175): the 3-column boundary-lines variant."""
    return export.select(
        "date",
        "num_cases",
        sp.st_boundary_udf()(F.col("geometry")).alias("geometry"),
    )


def _dates_columns(export: DataFrame, window: str) -> dict[str, list]:
    """The three per-window lists of the dates CSV (ref :77,:167-169):
    unique sorted dates, the 19-quantile color scale over
    ``normalized``, and the first-differenced daily sums.  The daily
    sums carry one row per distinct date, so their date keys are the
    dates list."""
    colors = [
        r["q_value"]
        for r in stats.quantile_vector(
            export, "normalized", exact=True, distributed=True
        )
        .orderBy("q_idx")
        .collect()
    ]
    deltas = (
        stats.daily_total_delta(
            export.select("date", F.col("num_cases").alias("cases")), "cases"
        )
        .orderBy("date")
        .collect()
    )
    return {
        f"{window}_dates": [r["date"].isoformat() for r in deltas],
        f"{window}_colors": colors,
        f"{window}_sums": [r["daily_delta"] for r in deltas],
    }


def parse(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Run the full pipeline and write every reference artifact:
    ``{window}_polygons.geojson`` + ``{window}_lines.geojson`` per
    window (8 files) and ``dates.csv`` (12 ragged columns).  Returns
    artifact name -> path.  Deterministic: rerunning produces
    byte-identical files (ordered features, fixed quantile grid)."""
    os.makedirs(out_dir, exist_ok=True)
    exports = run_pipeline(spark, sf_dir, geometry=True)
    artifacts: dict[str, str] = {}
    dates_cols: dict[str, list] = {}
    try:
        for w in WINDOWS:
            export = exports[w]
            poly_path = os.path.join(out_dir, f"{w}_polygons.geojson")
            write_geojson(export, poly_path, order_by=("id", "date"))
            artifacts[f"{w}_polygons"] = poly_path
            line_path = os.path.join(out_dir, f"{w}_lines.geojson")
            write_geojson(
                _lines_frame(export),
                line_path,
                order_by=("date", "num_cases", "geometry"),
            )
            artifacts[f"{w}_lines"] = line_path
            dates_cols.update(_dates_columns(export, w))
        csv_path = os.path.join(out_dir, "dates.csv")
        write_dates_array_csv(csv_path, dates_cols)
        artifacts["dates_csv"] = csv_path
    finally:
        # every artifact is materialized — the pinned prefix is consumed
        release_all()
    return artifacts


# Verification against the reference (il_analysis_git.py):
# - :150-172 window loop  -> run_pipeline windows (clearmap.WINDOWS)
# - :170-175 two GeoJSON files per window (polygons; [date, num_cases,
#   geometry.boundary] lines)  -> write_geojson + _lines_frame
# - :201-213 dates_df 12-column ragged CSV via zip_longest
#   -> _dates_columns + write_dates_array_csv
