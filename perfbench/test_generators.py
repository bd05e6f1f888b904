"""Tests of the benchmark's inputs (the staged tables, the season generator)
and its pandas recomputation.

    python3 -m pytest perfbench -q

No Spark: these run in a few seconds.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen_season  # noqa: E402
import season_oracle  # noqa: E402
import headline  # noqa: E402


def test_staged_tables_are_the_recorded_ones(tmp_path):
    headline.stage_tables(str(tmp_path / "t"))
    from f1_bigdata_pyspark_spark.catalog import TABLES

    assert sorted(os.listdir(tmp_path / "t")) == sorted(f"{t}.parquet" for t in TABLES)


def test_a_changed_table_is_refused(tmp_path, monkeypatch):
    import shutil

    data = tmp_path / "sf0.01"
    shutil.copytree(headline.DATA, data)
    shutil.copyfile(headline.DATA + ".sha256", str(data) + ".sha256")
    with open(data / "region.parquet", "ab") as fh:
        fh.write(b"x")
    monkeypatch.setattr(headline, "DATA", str(data))
    with pytest.raises(RuntimeError, match="region.parquet"):
        headline.stage_tables(str(tmp_path / "t"))


@pytest.fixture(scope="module")
def season():
    return gen_season.generate_season(11)


def test_season_is_deterministic_per_seed(season):
    def lines(s):
        return ["".join(gen_season.race_lines(r)) for r in s]

    assert lines(season) == lines(gen_season.generate_season(11))
    assert lines(season) != lines(gen_season.generate_season(12))


def test_season_shape(season):
    assert len(season) == 22
    table = gen_season.expected_table(season)
    drivers = {k[3] for k in table}
    assert 19 <= len(drivers) <= 22
    assert 20_000 <= len(table) <= 28_000


def test_season_carries_every_special_case(season):
    rows = list(gen_season.expected_table(season).values())
    lap = [r["LapTime"] for r in rows]
    assert any(v is None for v in lap)
    assert any(isinstance(v, float) and math.isnan(v) for v in lap)
    for col in ("PitInTime", "PitOutTime"):
        vals = [r[col] for r in rows]
        assert any(v is None for v in vals) and any(isinstance(v, float) and math.isnan(v) for v in vals)
        assert any(isinstance(v, float) and not math.isnan(v) for v in vals)
    assert any(r["IsAccurate"] is False for r in rows)
    compounds = {r["Compound"] for r in rows}
    assert {"INTERMEDIATE", "WET", "SOFT", "MEDIUM", "HARD"} <= compounds
    # a stint of constant TyreLife long enough to pass the n_laps >= 8 floor
    race, drv = gen_season.CONST_TYRE
    stint2 = [
        r["TyreLife"]
        for r in rows
        if r["GrandPrix"] == gen_season.RACES[race] and r["Driver"] == drv and r["Stint"] == 2.0
    ]
    assert len(stint2) >= 8 and len(set(stint2)) == 1
    races_per_driver = Counter()
    for d, gp in {(r["Driver"], r["GrandPrix"]) for r in rows}:
        races_per_driver[d] += 1
    assert races_per_driver["RIC"] == 8 and races_per_driver["LAW"] == 7
    assert races_per_driver["BEA"] == 2


def test_about_one_percent_of_keys_land_twice_later(season):
    landings = Counter()
    latest: dict[tuple, str] = {}
    for records in season:
        for rec in records:
            k = gen_season.key_of(rec)
            landings[k] += 1
            assert rec["IngestedAt"] > latest.get(k, ""), "a re-landing must be later"
            latest[k] = rec["IngestedAt"]
    twice = sum(1 for n in landings.values() if n == 2)
    assert max(landings.values()) == 2
    assert 0.005 <= twice / len(landings) <= 0.02
    table = gen_season.expected_table(season)
    assert all(table[k]["IngestedAt"] == v for k, v in latest.items())


def test_slope_recomputation_recovers_a_line():
    rows = []
    for lap, life in enumerate(range(2, 14), start=1):
        rows.append(
            {
                "Year": 2023, "GrandPrix": "X", "Session": "R", "Driver": "AAA",
                "Stint": 1.0, "Compound": "SOFT", "TyreLife": float(life),
                "LapTime": 90.0 + 0.05 * life, "IsAccurate": True,
                "PitInTime": None, "PitOutTime": float("nan"), "LapNumber": float(lap),
            }
        )
    deg = season_oracle.tyre_degradation(rows)
    assert len(deg) == 1 and deg[0][6] == 12
    assert deg[0][7] == pytest.approx(50.0)
    const = [dict(r, TyreLife=5.0) for r in rows]
    assert season_oracle.tyre_degradation(const)[0][7] is None
    assert season_oracle.compound_summary(deg) == [("SOFT", 1, deg[0][7], deg[0][7])]


def test_pareto_ranks_are_dense_and_sorted():
    metrics = [("A", 120, 90.0, 0.5), ("B", 130, 91.0, 0.2), ("C", 140, 90.0, 0.9)]
    got = season_oracle._pareto(metrics)
    assert [r[0] for r in got] == ["A", "B", "C"]
    assert [r[4:] for r in got] == [(1, 2, 3), (2, 1, 3), (1, 3, 4)]
    assert np.all(np.diff([r[-1] for r in got]) >= 0)
