"""Output checks for the benchmark. Each returns a list of problems;
an empty list means the output is correct. All of them run outside the
timed region."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import landing


def _norm(v):
    """A value in a form that compares equal across Spark and DuckDB
    result frames: missing values → None, numpy scalars → Python,
    decimals → float, timestamps → naive ISO text, arrays → lists."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    try:
        if v != v:  # pandas NaT / NA
            return None
    except (TypeError, ValueError):
        return None
    return v


def rows_of(pdf) -> list[tuple]:
    """Rows of a pandas frame with its columns in name order."""
    cols = sorted(pdf.columns)
    return [tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a sequence of rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(_norm(v) for v in r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def compare_digests(name: str, got: tuple[int, str], want: tuple[int, str]) -> list[str]:
    if got[0] != want[0]:
        return [f"{name}: {got[0]} rows, expected {want[0]}"]
    if got[1] != want[1]:
        return [f"{name}: row values differ from the expected result"]
    return []


def quality_expected(counts: dict) -> dict[str, int]:
    """silver_quality violations implied by the generator's counts."""
    return {
        "finisher_has_rank": counts["finisher_no_rank"],
        "finisher_has_finish_time": 0,
        "flagged_rows": counts["flagged"],
        "in_set(source_gender)": 0,
        "non_null(row_key)": 0,
    }


def check_load(result, counts: dict) -> list[str]:
    """A pipeline RunResult against the generator's counts for every
    year loaded so far."""
    problems = []
    for field in ("bronze_rows", "silver_rows", "fact_rows"):
        got = getattr(result, field)
        if got != counts["rows"]:
            problems.append(f"{field} = {got}, expected {counts['rows']}")
    if result.duplicate_row_keys != 0:
        problems.append(f"duplicate_row_keys = {result.duplicate_row_keys}")
    want_q = quality_expected(counts)
    if dict(result.silver_quality) != want_q:
        problems.append(f"silver_quality = {result.silver_quality}, expected {want_q}")
    want_fk = {"athletes": 0, "divisions": 0, "countries": counts["null_country"]}
    if dict(result.unmatched_fks) != want_fk:
        problems.append(f"unmatched_fks = {result.unmatched_fks}, expected {want_fk}")
    if len(result.views_created) != 15:
        problems.append(f"{len(result.views_created)} views created, expected 15")
    return problems


def check_kpi(row: dict, counts: dict, years: list[int]) -> list[str]:
    """vw_kpi_metrics against the values the generator determines."""
    want = {
        "total_athletes": counts["rows"],
        "total_finishers": counts["finishers"],
        "total_dnf": counts["dnf"],
        "total_dns": counts["dns"],
        "total_years": len(years),
        "first_year": min(years),
        "latest_year": max(years),
    }
    return [
        f"vw_kpi_metrics.{k} = {row.get(k)}, expected {v}"
        for k, v in want.items()
        if row.get(k) != v
    ]


def check_views(rows_by_view: dict, manifest: dict) -> list[str]:
    """The views whose values the generator determines: vw_kpi_metrics
    and the per-(year, gender) counts of vw_athletes_by_year."""
    problems = []
    years = sorted({f["year"] for f in manifest["files"]})
    kpi = rows_by_view.get("vw_kpi_metrics")
    if kpi:
        problems += check_kpi(kpi[0].asDict(), landing.totals(manifest), years)
    by_year = rows_by_view.get("vw_athletes_by_year")
    if by_year is not None:
        got = {(r["year"], r["gender"]): (r["total_athletes"], r["finishers"], r["dnf"], r["dns"])
               for r in by_year}
        want = {(f["year"], f["gender"]): (f["rows"], f["finishers"], f["dnf"], f["dns"])
                for f in manifest["files"]}
        if got != want:
            problems.append(f"vw_athletes_by_year = {got}, expected {want}")
    return problems

