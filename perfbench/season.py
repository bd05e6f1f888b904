"""``season_ingest``: a generated 22-race season landed race by race.

Set-up writes the table as it stands after the first ``PRESEASON`` races
(their keep-latest rows, one parquet file). Each round then lands the next
race file, drains it with one ``trigger(availableNow=True)`` run of a
checkpointed ``fastf1_laps`` stream into
``streaming.upsert_sink.foreach_batch_upsert`` keyed on ``LAP_KEY``, and
runs one analytics pass over the table (``avg_laptime_by_driver``, both
``pareto_table`` views, ``tyre_degradation_by_stint`` and
``compound_summary``). The first round, in the fresh session and on a fresh
checkpoint, is the cold one; warm rounds follow until ``--seconds`` have
been spent on them and at least ``WARM_ROUNDS`` have run, or the season
ends.

Correctness, outside the timed regions: after every drain the table holds
exactly one row per generated lap key, the one with the latest
``IngestedAt``; every analytics output equals the pandas/numpy
recomputation from the generated rows (``season_oracle``).
"""

from __future__ import annotations

import os
import time

from gen_season import (
    KEY,
    race_lines,
    RACES,
    expected_table,
    generate_season,
    same_value,
    write_race,
)
import season_oracle as oracle

PRESEASON = len(RACES) - 6
# Warm races per run: whole rounds run until ``--seconds`` have been spent
# on them, and never fewer than this (nor more than the season has left).
WARM_ROUNDS = 2


def _files(path: str, suffix: str = "") -> dict[str, tuple[int, int, int]]:
    """Every file under ``path`` ending in ``suffix``: path → (inode,
    mtime in ns, size)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                p = os.path.join(root, n)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """Bytes and count of the files in ``after`` that are new or rewritten
    since ``before``: what the sink wrote, not what the table holds."""
    new = [st for p, st in after.items() if before.get(p) != st]
    return sum(st[2] for st in new), len(new)


def _analytics(spark, table_dir: str, tracer, phase: str) -> dict[str, list[tuple]]:
    from f1_bigdata_pyspark_spark import laps_analytics as la

    laps = spark.read.parquet(table_dir)
    clean = la.clean_laps(laps)
    views = {
        "avg_laptime_by_driver": lambda: la.avg_laptime_by_driver(laps),
        "lap_weighted_pareto": lambda: la.pareto_table(
            la.lap_weighted_metrics(clean), "avg_lap_s", "std_lap_s"
        ),
        "race_normalized_pareto": lambda: la.pareto_table(
            la.race_normalized_metrics(clean),
            "avg_lap_s_equal_races",
            "std_lap_s_equal_races",
        ),
        "tyre_degradation": lambda: la.tyre_degradation_by_stint(laps),
        "compound_summary": lambda: la.compound_summary(la.tyre_degradation_by_stint(laps)),
    }
    out = {}
    for name, build in views.items():
        with tracer.span(f"{phase}laps_analytics.{name}"):
            out[name] = [tuple(r) for r in build().collect()]
    return out


def _check_analytics(got: dict[str, list[tuple]], rows: list[dict]) -> list[str]:
    deg_want = oracle.tyre_degradation(rows)
    deg_got = [r[:6] + (r[6], r[-1]) for r in got["tyre_degradation"]]
    checks = {
        "avg_laptime_by_driver": (got["avg_laptime_by_driver"], oracle.avg_laptime_by_driver(rows), False),
        "lap_weighted_pareto": (got["lap_weighted_pareto"], oracle.lap_weighted_pareto(rows), True),
        "race_normalized_pareto": (got["race_normalized_pareto"], oracle.race_normalized_pareto(rows), True),
        "tyre_degradation": (deg_got, deg_want, False),
        "compound_summary": (got["compound_summary"], oracle.compound_summary(deg_want), True),
    }
    return [
        f"{name}: differs from the pandas recomputation"
        for name, (g, w, ordered) in checks.items()
        if not oracle.rows_close(g, w, ordered)
    ]


def _check_table(spark, table_dir: str, want: dict[tuple, dict]) -> list[str]:
    # Arrow keeps NULL and NaN apart, and is faster than collect() here
    got = spark.read.parquet(table_dir).select(*KEY, "IngestedAt", "LapTime").toArrow()
    seen: dict[tuple, tuple] = {}
    for r in got.to_pylist():
        k = tuple(r[c] for c in KEY)
        if k in seen:
            return [f"table holds lap key {k} twice"]
        seen[k] = (r["IngestedAt"], r["LapTime"])
    if seen.keys() != want.keys():
        return [f"table has {len(seen)} lap keys, expected {len(want)}"]
    for k, (ing, lt) in seen.items():
        w = want[k]
        if ing != w["IngestedAt"] or not same_value(lt, w["LapTime"]):
            return [f"lap key {k} is not its latest landing"]
    return []


def _write_table(path: str, rows: list[dict]) -> None:
    """The table as the sink would hold it after the pre-season races:
    one parquet file in the stream's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from f1_bigdata_pyspark_spark.sources.fastf1_source import FASTF1_LAPS_SCHEMA_DDL

    types = {"string": pa.string(), "double": pa.float64(), "boolean": pa.bool_(), "int": pa.int32()}
    schema = pa.schema(
        [(c, types[t]) for c, t in (f.split() for f in FASTF1_LAPS_SCHEMA_DDL.split(", "))]
    )
    os.makedirs(path)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, os.path.join(path, "part-00000-preseason.parquet"))


def run(spark, tracer, run_dir: str, seed: int, seconds: float, mark_setup) -> dict:
    from f1_bigdata_pyspark_spark.sources import fastf1_source
    from f1_bigdata_pyspark_spark.sources.laps_ingest import LAP_KEY
    from f1_bigdata_pyspark_spark.streaming.upsert_sink import foreach_batch_upsert

    if tuple(LAP_KEY) != KEY:
        raise RuntimeError(f"lap key {LAP_KEY} differs from the generator's {KEY}")
    season = generate_season(seed)
    landing = os.path.join(run_dir, "landing")
    table_dir = os.path.join(run_dir, "sink", "laps")
    ckpt = os.path.join(run_dir, "sink", "_checkpoint")
    os.makedirs(landing)
    with tracer.span("setup.preseason"):
        _write_table(table_dir, list(expected_table(season[:PRESEASON]).values()))
    fastf1_source.register(spark)
    sink_fn = foreach_batch_upsert(table_dir, LAP_KEY, "IngestedAt")
    phase = "cold."

    def traced_sink(df, batch_id):
        with tracer.span(f"{phase}streaming.add_batch"):
            sink_fn(df, batch_id)

    def drain() -> None:
        stream = spark.readStream.format("fastf1_laps").option("path", landing).load()
        q = (
            stream.writeStream.foreachBatch(traced_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if tracer.enabled:
            # micro-batch jobs run under the query's run id as job group
            for k, v in tracer.group_counts(str(q.runId)).items():
                tracer.add(f"{phase}streaming.{k}", v)
            trig: dict[str, float] = {}
            for p in q.recentProgress:
                for k, v in (p.durationMs or {}).items():
                    trig[k] = trig.get(k, 0) + v / 1000.0
            for k, name in (
                ("triggerExecution", "streaming.trigger_s"),
                ("queryPlanning", "streaming.query_planning_s"),
                ("walCommit", "streaming.wal_commit_s"),
                ("latestOffset", "sources.fastf1_source.latest_offset_s"),
            ):
                tracer.sample(phase + name, trig.get(k, 0.0))

    # the pre-season races count as landed: the table holds their laps
    landed_bytes = sum(len("".join(race_lines(r)).encode()) for r in season[:PRESEASON])
    written = attempted = failed = 0
    checks_s = 0.0
    errors: list[str] = []
    first_round_s = None
    rounds: list[float] = []
    drains: list[float] = []
    analytics_s: list[float] = []
    mark_setup()
    start = None  # warm rounds run for ``seconds`` after the cold one
    race = PRESEASON
    while race < len(RACES) and (
        start is None or len(rounds) < WARM_ROUNDS or time.perf_counter() - start < seconds
    ):
        table_before = _files(table_dir, ".parquet")
        t0 = time.perf_counter()
        path = write_race(landing, race, season[race])
        with tracer.span(f"{phase}streaming.drain"):
            drain()
        t_drain = time.perf_counter() - t0
        with tracer.span(f"{phase}laps_analytics.pass"):
            got = _analytics(spark, table_dir, tracer, phase)
        t_round = time.perf_counter() - t0
        attempted += 2
        landed_bytes += os.path.getsize(path)
        # checks, outside the timed regions
        t_checks = time.perf_counter()
        want = expected_table(season[: race + 1])
        rows = list(want.values())
        for bad in (_check_table(spark, table_dir, want), _check_analytics(got, rows)):
            errors += bad
            failed += 1 if bad else 0
        nbytes, nfiles = _written(table_before, _files(table_dir, ".parquet"))
        written += nbytes
        tracer.sample("sink.bytes_written", nbytes)
        tracer.sample("sink.files_written", nfiles)
        tracer.sample("laps.rows", len(rows))
        checks_s += time.perf_counter() - t_checks
        if first_round_s is None:
            first_round_s = t_round
            phase = ""
            start = time.perf_counter()
        else:
            rounds.append(t_round)
            drains.append(t_drain)
            analytics_s.append(t_round - t_drain)
        race += 1
    final_bytes = sum(st[2] for st in _files(table_dir, ".parquet").values())
    sink_bytes = sum(st[2] for st in _files(os.path.dirname(table_dir)).values())
    tracer.sample("sink.write_amp", written / final_bytes)
    tracer.sample("sink.space_amp", sink_bytes / landed_bytes)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks_s": checks_s,
        "first_round_s": first_round_s,
        "rounds": rounds,
        "ops": drains,
        "analytics": analytics_s,
    }
