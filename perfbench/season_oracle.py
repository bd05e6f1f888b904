"""pandas/numpy recomputation of the lap analytics, written apart from the
package: the season workload checks every analytics pass against these.

Each function takes the keep-latest lap rows (``gen_season.expected_table``
values) and returns rows in the output column order of the matching
``laps_analytics`` view. The degradation slope is ``cov/var`` in numpy.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def _valid(s: pd.Series) -> pd.Series:
    """Neither NULL nor NaN (pandas folds both into NaN)."""
    return s.notna()


def _clean(df: pd.DataFrame) -> pd.DataFrame:
    ok = (
        _valid(df["LapTime"])
        & (df["IsAccurate"] == True)  # noqa: E712
        & ~_valid(df["PitInTime"])
        & ~_valid(df["PitOutTime"])
        & (df["Session"] == "R")
        & df["Driver"].notna()
        & df["GrandPrix"].notna()
    )
    return df[ok]


def _std_pop(x: pd.Series) -> float:
    return float(np.std(x.to_numpy(dtype=float)))


def avg_laptime_by_driver(rows: list[dict]) -> list[tuple]:
    df = pd.DataFrame(rows)
    df = df[_valid(df["LapTime"]) & df["Driver"].notna()]
    g = df.groupby("Driver")["LapTime"]
    out = [(d, int(n), float(m)) for d, n, m in zip(g.size().index, g.size(), g.mean())]
    return sorted(out, key=lambda r: r[2])


def _pareto(metrics: list[tuple], top_n: int = 15) -> list[tuple]:
    """Rows (driver, ..., avg, std) → rows + (rank_speed, rank_consistency,
    rank_sum), dense ranks, sorted and cut like ``pareto_table``."""
    avgs = sorted({m[-2] for m in metrics})
    stds = sorted({m[-1] for m in metrics})
    ranked = [
        m + (avgs.index(m[-2]) + 1, stds.index(m[-1]) + 1) for m in metrics
    ]
    ranked = [r + (r[-2] + r[-1],) for r in ranked]
    ranked.sort(key=lambda r: (r[-1], r[-5], r[-4]))
    return ranked[:top_n]


def lap_weighted_pareto(rows: list[dict], min_laps: int = 100) -> list[tuple]:
    clean = _clean(pd.DataFrame(rows))
    out = []
    for drv, g in clean.groupby("Driver"):
        if len(g) >= min_laps:
            out.append((drv, len(g), float(g["LapTime"].mean()), _std_pop(g["LapTime"])))
    return _pareto(out)


def race_normalized_pareto(
    rows: list[dict], min_laps_per_race: int = 10, min_races: int = 8
) -> list[tuple]:
    clean = _clean(pd.DataFrame(rows))
    per_driver: dict[str, list[tuple[float, float]]] = {}
    for (drv, _gp), g in clean.groupby(["Driver", "GrandPrix"]):
        if len(g) >= min_laps_per_race:
            per_driver.setdefault(drv, []).append(
                (float(g["LapTime"].mean()), _std_pop(g["LapTime"]))
            )
    out = []
    for drv, races in per_driver.items():
        if len(races) >= min_races:
            a = float(np.mean([r[0] for r in races]))
            s = float(np.mean([r[1] for r in races]))
            out.append((drv, len(races), a, s))
    return _pareto(out)


def tyre_degradation(rows: list[dict], min_laps: int = 8) -> list[tuple]:
    """(Year, GrandPrix, Session, Driver, Stint, Compound, n_laps,
    deg_ms_per_tyre_lap) per stint, slope = cov/var in numpy."""
    df = pd.DataFrame(rows)
    ok = (
        _valid(df["LapTime"])
        & _valid(df["TyreLife"])
        & df["Stint"].notna()
        & df["Driver"].notna()
        & df["GrandPrix"].notna()
        & df["Compound"].isin(["SOFT", "MEDIUM", "HARD"])
        & (df["IsAccurate"] == True)  # noqa: E712
        & ~_valid(df["PitInTime"])
        & ~_valid(df["PitOutTime"])
        & (df["TyreLife"] >= 2)
    )
    keys = ["Year", "GrandPrix", "Session", "Driver", "Stint", "Compound"]
    out = []
    for k, g in df[ok].groupby(keys):
        if len(g) < min_laps:
            continue
        x = g["TyreLife"].to_numpy(dtype=float)
        y = g["LapTime"].to_numpy(dtype=float)
        var = float(np.var(x))
        slope = None if var == 0 else float(np.cov(x, y, bias=True)[0, 1] / var) * 1000.0
        out.append(tuple(k) + (len(g), slope))
    return out


def compound_summary(deg: list[tuple]) -> list[tuple]:
    by: dict[str, list[float]] = {}
    for r in deg:
        if r[-1] is not None:
            by.setdefault(r[5], []).append(r[-1])
    return [
        (c, len(v), float(np.mean(v)), float(np.median(v))) for c, v in sorted(by.items())
    ]


def close(a, b, rel: float = 1e-6, abs_: float = 1e-6) -> bool:
    """Values equal, floats within tolerance (summation order differs
    between the engines)."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    return a == b


def rows_close(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        def key(r):
            return tuple((v is None, round(v, 3) if isinstance(v, float) else v) for v in r)

        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
