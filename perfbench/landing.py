"""Seeded landing-CSV generator for the medallion benchmark.

Writes one CSV per (year, gender) under ``<root>/year=<y>/`` in the
reference's raw 30-column layout (FIXTURES.md §1): every column a string,
``-`` for missing values, an empty ``country`` for some rows. Each file
carries the edge cases the pipeline must handle:

- DNF / DNS / DQ rows (DNF keeps its swim split, DNS has no times);
- duplicate (year, gender, athlete_name) pairs, which the bronze W1
  window separates by ``dup_rank``;
- names with punctuation or non-ASCII letters, and single-token names;
- finishers with no rank and finishers with a missing run split, which
  silver flags as ``has_data_issue``;
- finishers whose segment sum differs from ``finish_time`` by over 60 s.

Row counts scale the reference's real per-file volumes by a multiplier.
Alongside the data, ``generate`` returns the counts that the output
checks need, derived from the rows as they are written. The same seed
and multiplier give byte-identical files.
"""

from __future__ import annotations

import csv
import os
import random

RAW_COLUMNS = [
    "rank", "athlete_name", "country", "div_rank", "gender_rank", "overall_rank",
    "designation", "bib", "division", "points", "swim_time", "swim_time_detail",
    "swim_div_rank", "swim_gender_rank", "swim_overall_rank", "transition_1",
    "transition_1_detail", "bike_time", "bike_time_detail", "bike_div_rank",
    "bike_gender_rank", "bike_overall_rank", "transition_2", "transition_2_detail",
    "run_time", "run_time_detail", "run_div_rank", "run_gender_rank",
    "run_overall_rank", "finish_time",
]

# Rows per landing file in the reference's scraped data (SURVEY.md §1.3).
REFERENCE_ROWS = {
    (2023, "M"): 2269,
    (2023, "F"): 2174,
    (2024, "M"): 2491,
    (2024, "F"): 1384,
    (2025, "M"): 2535,
    (2025, "F"): 1673,
}

FIRST_NAMES = [
    "Sam", "Patrick", "Lucy", "Anne", "Magnus", "Laura", "Kristian", "Daniela",
    "Gustav", "Chelsea", "Jan", "Taylor", "Lionel", "Kat", "Braden", "Solveig",
    "Maja", "Timo", "Léa", "Jürgen", "Ana", "Chen", "Ravi", "Aoife", "Mateo",
    "Ingrid", "Kofi", "Yuki", "Pedro", "Zoë", "Liam", "Sofia", "Noah", "Emma",
    "Lars", "Olga", "Tomás", "Fatima", "Hugo", "Ines", "Marek", "Nadia",
]
LAST_NAMES = [
    "Laidlow", "Lange", "Charles-Barclay", "Haug", "Ditlev", "Philipp",
    "Blummenfelt", "Ryf", "Iden", "Sodaro", "Frodeno", "Knibb", "Sanders",
    "Matthews", "Currie", "Løvseth", "Nielsen", "O'Brien", "van der Berg",
    "Smith", "García", "Müller", "Rossi", "Kowalski", "Tanaka", "Okafor",
    "Silva", "Dubois", "Novak", "Jensen", "St. Clair", "Al-Sayed", "Brown",
    "Costa", "Weber", "Moreau", "Ivanova", "Horvat", "Andersen", "Lee",
]
SINGLE_NAMES = ["Ironman", "Kona", "Madonna", "Pelé", "Ronaldo"]

# Mapped codes (country_mapping.py) plus two the mapping lacks, which
# land in dim_countries as name=code / continent='Unknown'.
COUNTRIES = [
    "US", "DE", "GB", "FR", "AU", "CA", "NZ", "ES", "IT", "CH", "NL", "BE",
    "DK", "NO", "SE", "BR", "MX", "JP", "ZA", "AT", "IE", "PL", "CZ", "AR",
    "XK", "ZZ",
]
AGE_GROUPS = [
    "18-24", "25-29", "30-34", "35-39", "40-44", "45-49", "50-54", "55-59",
    "60-64", "65-69", "70-74", "75-79", "80-84",
]

DESIGNATIONS = [("Finisher", 0.88), ("DNF", 0.08), ("DNS", 0.03), ("DQ", 0.01)]


def _hms(seconds: int) -> str:
    h, rem = divmod(seconds, 3600)
    return f"{h}:{rem // 60:02d}:{rem % 60:02d}"


def _designation(rng: random.Random) -> str:
    x = rng.random()
    for name, share in DESIGNATIONS:
        if x < share:
            return name
        x -= share
    return DESIGNATIONS[0][0]


def _name(rng: random.Random) -> str:
    if rng.random() < 0.01:
        return rng.choice(SINGLE_NAMES)
    return f"{rng.choice(FIRST_NAMES)} {rng.choice(LAST_NAMES)}"


def _file_rows(rng: random.Random, gender: str, n: int) -> tuple[list[dict], dict]:
    """``n`` raw rows for one race file, plus the counts checks need."""
    counts = {
        "rows": n, "finishers": 0, "dnf": 0, "dns": 0, "dq": 0,
        "finisher_no_rank": 0, "flagged": 0, "time_mismatch": 0, "null_country": 0,
    }
    rows: list[dict] = []
    finisher_rank = 0
    for i in range(n):
        row = {c: "-" for c in RAW_COLUMNS}
        designation = _designation(rng)
        if rows and rng.random() < 0.02:
            # duplicate (year, gender, name): a second athlete, same name
            row["athlete_name"] = rows[rng.randrange(len(rows))]["athlete_name"]
        else:
            row["athlete_name"] = _name(rng)
        if rng.random() < 0.01:
            row["country"] = ""
            counts["null_country"] += 1
        else:
            row["country"] = rng.choice(COUNTRIES)
        pro = rng.random() < 0.03
        row["division"] = f"{gender}PRO" if pro else f"{gender}{rng.choice(AGE_GROUPS)}"
        row["bib"] = str(i + 1)
        row["designation"] = designation
        if pro and designation == "Finisher":
            row["points"] = str(rng.randrange(1000, 5001))

        swim = rng.randrange(2600, 5400)
        t1 = rng.randrange(120, 900)
        bike = rng.randrange(14000, 28000)
        t2 = rng.randrange(100, 800)
        run = rng.randrange(9000, 24000)
        if designation == "DNS":
            counts["dns"] += 1
        elif designation == "DNF":
            counts["dnf"] += 1
            row["swim_time"] = row["swim_time_detail"] = _hms(swim)
            row["transition_1"] = row["transition_1_detail"] = _hms(t1)
        else:
            finish = swim + t1 + bike + t2 + run
            if designation == "Finisher" and rng.random() < 0.01:
                finish += rng.randrange(61, 900)  # segment-sum mismatch > 60 s
                counts["time_mismatch"] += 1
            for col, secs in (
                ("swim_time", swim), ("transition_1", t1), ("bike_time", bike),
                ("transition_2", t2), ("run_time", run),
            ):
                row[col] = row[f"{col}_detail"] = _hms(secs)
            row["finish_time"] = _hms(finish)
            for seg in ("swim", "bike", "run"):
                for kind in ("div", "gender", "overall"):
                    row[f"{seg}_{kind}_rank"] = str(rng.randrange(1, n + 1))
            if designation == "DQ":
                counts["dq"] += 1
            else:
                counts["finishers"] += 1
                flagged = False
                if rng.random() < 0.01:
                    counts["finisher_no_rank"] += 1
                    flagged = True
                else:
                    finisher_rank += 1
                    row["rank"] = row["overall_rank"] = str(finisher_rank)
                    row["gender_rank"] = str(finisher_rank)
                    row["div_rank"] = str(rng.randrange(1, finisher_rank + 1))
                if rng.random() < 0.005:
                    row["run_time"] = row["run_time_detail"] = "-"
                    flagged = True
                counts["flagged"] += flagged
        rows.append(row)
    return rows, counts


def generate(root: str, seed: int, multiplier: float) -> dict:
    """Write the landing CSVs for 2023-2025 under ``root``; return
    ``{"files": [{"year", "gender", "filename", **counts}, ...]}``.

    Each file draws from its own RNG seeded by (seed, year, gender)."""
    files = []
    for (year, gender), ref_rows in REFERENCE_ROWS.items():
        rng = random.Random(f"{seed}/{year}/{gender}")
        rows, counts = _file_rows(rng, gender, max(1, round(ref_rows * multiplier)))
        name = f"{year}_{'women' if gender == 'F' else 'men'}.csv"
        d = os.path.join(root, f"year={year}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w", newline="", encoding="utf-8") as fh:
            w = csv.DictWriter(fh, fieldnames=RAW_COLUMNS, lineterminator="\n")
            w.writeheader()
            w.writerows(rows)
        files.append({"year": year, "gender": gender, "filename": name, **counts})
    return {"files": files}


def totals(manifest: dict, years=None) -> dict:
    """Sum a generate() manifest's per-file counts over ``years``
    (all years when None)."""
    out: dict[str, int] = {}
    for f in manifest["files"]:
        if years is None or f["year"] in years:
            for k, v in f.items():
                if k not in ("year", "gender", "filename"):
                    out[k] = out.get(k, 0) + v
    return out
