"""Seeded generator for a 22-race season of laps in the paper's shape.

About 20 drivers and 24k laps, one JSON-lines file per race in the
``fastf1_laps`` source schema. The rows carry every case the lap analytics
treat specially:

- both SQL NULL and float NaN in the double columns (LapTime, sectors,
  PitInTime/PitOutTime on non-pit laps);
- pit laps (PitInTime on the in-lap, PitOutTime on the out-lap);
- ``IsAccurate=false`` rows;
- INTERMEDIATE and WET laps (one wet race, plus stray laps elsewhere);
- one stint whose ``TyreLife`` is constant (zero variance: NULL slope);
- partial-season drivers on both sides of every HAVING threshold
  (8 races, 7 races, 2 races; early retirements around 10 laps);
- about 1% of lap keys landed twice, the second time with a later
  ``IngestedAt`` and a different LapTime, either later in the same race
  file or in the next race's file.

The same seed gives the same season; ``expected_table`` is the
keep-latest state the sink must hold after a prefix of races has landed.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

YEAR = 2023
SESSION = "R"
GRANDS_PRIX = [
    "Bahrain", "Saudi Arabian", "Australian", "Azerbaijan", "Miami",
    "Monaco", "Spanish", "Canadian", "Austrian", "British", "Hungarian",
    "Belgian", "Dutch", "Italian", "Singapore", "Japanese", "Qatar",
    "United States", "Mexico City", "Sao Paulo", "Las Vegas", "Abu Dhabi",
]
RACES = [f"{name} Grand Prix" for name in GRANDS_PRIX]
FULL_SEASON = [
    "VER", "PER", "HAM", "RUS", "LEC", "SAI", "NOR", "PIA", "ALO",
    "STR", "GAS", "OCO", "ALB", "SAR", "BOT", "ZHO", "MAG", "HUL",
]
# partial seasons: 8 races (passes races_present >= 8), 7 races (fails by
# one), 2 races (around the n_laps >= 100 floor)
PARTIAL = {"RIC": 8, "LAW": 7, "BEA": 2}
TEAMS = ["RBR", "MER", "FER", "MCL", "AST", "ALP", "WIL", "SAU", "HAA", "RB"]
DRY = ["SOFT", "MEDIUM", "HARD"]
WET_RACE = 11  # Belgian GP: intermediates and wets
CONST_TYRE = (3, "HAM")  # race index, driver with a constant-TyreLife stint
KEY = ("Year", "GrandPrix", "Session", "Driver", "LapNumber")
COLUMNS = [
    "Driver", "Team", "LapNumber", "Stint", "Compound", "TyreLife",
    "LapTime", "Sector1Time", "Sector2Time", "Sector3Time",
    "PitInTime", "PitOutTime", "IsAccurate", "TrackStatus",
    "Year", "GrandPrix", "Session", "IngestedAt",
]


def _missing(rng: np.random.Generator):
    """A missing value in one of its two encodings."""
    return None if rng.random() < 0.5 else float("nan")


def _ingested_at(race: int, second: int) -> str:
    day = 1 + race  # one landing day per race, within 2023-07
    return f"2023-07-{day:02d}T12:{second // 60:02d}:{second % 60:02d}Z"


def _race_laps(rng: np.random.Generator, race: int, drivers: list[str]) -> list[dict]:
    gp = RACES[race]
    n_laps = int(rng.integers(58, 70))
    base = 80.0 + 15.0 * rng.random()
    out = []
    retire = {d: int(rng.choice([5, 9, 10, 11, 25])) for d in rng.choice(drivers, 2, replace=False)}
    for di, drv in enumerate(drivers):
        pace = base + 0.05 * di + rng.normal(0, 0.2)
        last = retire.get(drv, n_laps)
        pits = sorted(rng.choice(np.arange(8, n_laps - 5), int(rng.integers(1, 3)), replace=False))
        if (race, drv) == CONST_TYRE:  # a long second stint that finishes
            last, pits = n_laps, [15, 40]
        stint, life = 1, int(rng.integers(1, 3))
        compound = "INTERMEDIATE" if race == WET_RACE else str(rng.choice(DRY))
        slope = rng.uniform(0.02, 0.12)
        for lap in range(1, last + 1):
            pit_in = lap in pits
            pit_out = (lap - 1) in pits
            if pit_out:
                stint, life = stint + 1, 1
                if race == WET_RACE:
                    compound = "WET" if compound == "INTERMEDIATE" else "INTERMEDIATE"
                else:
                    compound = str(rng.choice(DRY))
            tyre = float(life)
            if (race, drv) == CONST_TYRE and stint == 2:
                tyre = 5.0
            lt = pace + slope * tyre + rng.normal(0, 0.15) + (20.0 if pit_in or pit_out else 0.0)
            s1 = lt * 0.3
            rec = {
                "Driver": drv,
                "Team": TEAMS[di % len(TEAMS)],
                "LapNumber": float(lap),
                "Stint": float(stint),
                "Compound": compound if rng.random() > 0.005 else "WET",
                "TyreLife": tyre,
                "LapTime": round(lt, 3),
                "Sector1Time": round(s1, 3) if rng.random() > 0.02 else _missing(rng),
                "Sector2Time": round(lt * 0.4, 3),
                "Sector3Time": round(lt * 0.3, 3) if rng.random() > 0.02 else _missing(rng),
                "PitInTime": round(3000.0 + lap * lt, 3) if pit_in else _missing(rng),
                "PitOutTime": round(3020.0 + lap * lt, 3) if pit_out else _missing(rng),
                "IsAccurate": bool(rng.random() > 0.03),
                "TrackStatus": "1" if rng.random() > 0.05 else "4",
                "Year": YEAR,
                "GrandPrix": gp,
                "Session": SESSION,
                "IngestedAt": _ingested_at(race, 0),
            }
            u = rng.random()
            if u < 0.01:
                rec["LapTime"] = None
            elif u < 0.02:
                rec["LapTime"] = float("nan")
            out.append(rec)
            life += 1
    return out


def generate_season(seed: int) -> list[list[dict]]:
    """The season as a list of race files; each file is a list of records
    in landing order (re-landed keys follow their first landing)."""
    rng = np.random.default_rng(seed)
    partial_races = {
        d: set(int(r) for r in rng.choice(len(RACES), n, replace=False))
        for d, n in PARTIAL.items()
    }
    files: list[list[dict]] = []
    carry: list[dict] = []
    for race in range(len(RACES)):
        drivers = FULL_SEASON + [d for d, rs in partial_races.items() if race in rs]
        laps = _race_laps(rng, race, drivers)
        # about 1% of keys land twice: half later in this file, half (a
        # correction of this race) in the next race's file
        picks = rng.choice(len(laps), max(2, len(laps) // 100), replace=False)
        again, later = [], []
        for j, idx in enumerate(picks):
            rec = dict(laps[idx])
            rec["LapTime"] = round(88.0 + 10.0 * rng.random(), 3)
            rec["IngestedAt"] = _ingested_at(race, 1 + j)
            (again if j % 2 == 0 else later).append(rec)
        for rec in later:
            rec["IngestedAt"] = _ingested_at(race + 1, 30 + len(again))
        files.append(laps + again + carry)
        carry = later
    if carry:
        files[-1].extend(carry)
    return files


def race_file_name(grand_prix: str) -> str:
    from f1_bigdata_pyspark_spark.sources.fastf1_source import race_file_name as name

    return name(grand_prix)


def race_lines(records: list[dict]) -> list[str]:
    """A race file's JSON lines (NaN written as the JSON extension ``NaN``,
    which the source's reader parses back to NaN)."""
    return [json.dumps({c: rec[c] for c in COLUMNS}) + "\n" for rec in records]


def write_race(out_dir: str, race: int, records: list[dict]) -> str:
    """Land one race file atomically (write aside, then rename) and return
    its path."""
    path = os.path.join(out_dir, race_file_name(RACES[race]))
    tmp = os.path.join(os.path.dirname(out_dir.rstrip("/")), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.writelines(race_lines(records))
    os.replace(tmp, path)
    return path


def key_of(rec: dict) -> tuple:
    return tuple(rec[c] for c in KEY)


def expected_table(files: list[list[dict]]) -> dict[tuple, dict]:
    """Keep-latest state after ``files`` have landed: one row per lap key,
    the one with the greatest ``IngestedAt``."""
    state: dict[tuple, dict] = {}
    for records in files:
        for rec in records:
            k = key_of(rec)
            cur = state.get(k)
            if cur is None or rec["IngestedAt"] >= cur["IngestedAt"]:
                state[k] = rec
    return state


def same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b
