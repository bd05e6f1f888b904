#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one Spark session.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 1 --trace 0

Workloads: ``headline`` (the bench queries over the repository's sf0.01
test tables) and ``season_ingest`` (a generated season landed race by race
through the streaming upsert sink, with the lap analytics after each race).
See ``perfbench/README.md``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the per-layer ones, and the
spans and Spark counts are written to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from engine import ROOT, WORK  # noqa: E402

sys.path.insert(1, ROOT)

import f1_bigdata_pyspark_spark  # noqa: E402,F401  (fail fast outside a checkout)
import tests.oracle_harness  # noqa: E402,F401

import engine  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("headline", "season_ingest")
END_TO_END = {
    "setup_s": "s",
    "first_round_s": "s",
    "round_p50_s": "s",
    "op_p50_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(
    workload: str, tracer: Tracer, res: dict, e2e: dict, rss_mb: float
) -> dict[str, tuple[float, str]]:
    """The per-layer metrics, the same names for every workload; a layer a
    workload does not touch reads 0."""
    from headline import query_names

    s = tracer.samples
    c = tracer.counts
    n = max(1, len(res["rounds"])) if workload == "headline" else 0
    per_pass = lambda key: sum(s.get(key, [])) / n if n else 0.0  # noqa: E731
    count = lambda key: c.get(key, 0.0) / n if n else 0.0  # noqa: E731
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (sum(s.get("session.start", [])), "s"),
        "session.warm_s": (sum(s.get("session.warm", [])), "s"),
        "process.peak_rss_mb": (rss_mb, "MB"),
        "catalog.warm_s": (sum(s.get("catalog.warm", [])), "s"),
        "cold.build_s": (sum(s.get("cold.build", [])), "s"),
        "cold.collect_s": (sum(s.get("cold.collect", [])), "s"),
        "queries.build_s": (per_pass("warm.build"), "s"),
        "queries.build_jobs": (count("warm.build.jobs"), "count"),
        "plan.plan_s": (per_pass("warm.plan"), "s"),
        "execute.collect_s": (per_pass("warm.collect"), "s"),
        "execute.jobs": (count("warm.execute.jobs"), "count"),
        "execute.stages": (count("warm.execute.stages"), "count"),
        "execute.tasks": (count("warm.execute.tasks"), "count"),
        "execute.input_bytes": (count("warm.execute.input_bytes"), "bytes"),
        "execute.shuffle_write_bytes": (count("warm.execute.shuffle_write_bytes"), "bytes"),
        "execute.rows_out": (count("warm.execute.rows_out"), "rows"),
    }
    for q in query_names():
        m[f"q.{q}.build_s"] = (_median(s.get(f"q.{q}.warm.build_s", [])), "s")
        m[f"q.{q}.collect_s"] = (_median(s.get(f"q.{q}.warm.collect_s", [])), "s")
    drains = s.get("streaming.drain", [])
    triggers = s.get("streaming.trigger_s", [])
    n_drains = max(1, len(drains))
    m.update(
        {
            "streaming.drain_s": (_median(drains), "s"),
            "streaming.trigger_s": (_median(triggers), "s"),
            "streaming.startup_s": (_median(d - t for d, t in zip(drains, triggers)), "s"),
            "streaming.add_batch_s": (_median(s.get("streaming.add_batch", [])), "s"),
            "streaming.query_planning_s": (_median(s.get("streaming.query_planning_s", [])), "s"),
            "streaming.wal_commit_s": (_median(s.get("streaming.wal_commit_s", [])), "s"),
            "streaming.jobs": (c.get("streaming.jobs", 0.0) / n_drains if drains else 0.0, "count"),
            "sources.fastf1_source.latest_offset_s": (
                _median(s.get("sources.fastf1_source.latest_offset_s", [])),
                "s",
            ),
            "sink.bytes_written": (_median(s.get("sink.bytes_written", [])), "bytes"),
            "sink.files_written": (_median(s.get("sink.files_written", [])), "count"),
            "sink.write_amp": (_median(s.get("sink.write_amp", [])), "ratio"),
            "sink.space_amp": (_median(s.get("sink.space_amp", [])), "ratio"),
            "laps_analytics.pass_s": (_median(res.get("analytics", [])), "s"),
        }
    )
    for view in (
        "avg_laptime_by_driver",
        "lap_weighted_pareto",
        "race_normalized_pareto",
        "tyre_degradation",
        "compound_summary",
    ):
        m[f"laps_analytics.{view}_s"] = (_median(s.get(f"laps_analytics.{view}", [])), "s")
    m["laps.rows"] = (max(s.get("laps.rows", [0])), "rows")
    for k in ("first_round_s", "round_p50_s", "op_p50_s"):
        m[f"traced.{k}"] = (e2e[k], "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = engine.prepare_work_dir(args.workload)
    tracer = Tracer(bool(args.trace))
    setup_end: list[float] = []

    def mark_setup() -> None:
        setup_end.append(time.perf_counter())

    with tracer.span("session.start"):
        spark = engine.start_session(run_dir)
    tracer.spark = spark
    try:
        with tracer.span("session.warm"):
            engine.warm_up(spark)
        if args.workload == "headline":
            import headline

            data_dir = os.path.join(run_dir, "tables")
            with tracer.span("setup.stage"):
                headline.stage_tables(data_dir)
            res = headline.run(spark, tracer, data_dir, args.seed, args.seconds, mark_setup)
        else:
            import season

            res = season.run(spark, tracer, run_dir, args.seed, args.seconds, mark_setup)
        rss = engine.peak_rss_mb(spark)
    finally:
        t_stop = time.perf_counter()
        engine.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(
        f"perfbench: {time.perf_counter() - PROCESS_START:.1f} s in all, "
        f"{res['checks_s']:.1f} s of checks, {time.perf_counter() - t_stop:.1f} s to stop; "
        f"warm rounds {[round(r, 2) for r in res['rounds']]}",
        file=sys.stderr,
    )

    e2e = {
        "setup_s": setup_end[0] - PROCESS_START,
        "first_round_s": res["first_round_s"],
        "round_p50_s": _median(res["rounds"]),
        "op_p50_s": _median(res["ops"]),
    }
    for err in res["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record = os.path.join(WORK, "records", f"{args.workload}-untraced.json")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(args.workload, tracer, res, e2e, rss).items()}
        overhead = None
        if os.path.exists(record):
            with open(record) as fh:
                untraced = json.load(fh)
            overhead = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "traced_end_to_end": e2e,
                    "overhead_vs_last_untraced": overhead,
                    "per_layer": metrics,
                    **tracer.report(),
                },
                fh,
            )
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        with open(record, "w") as fh:
            json.dump(e2e, fh)
    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
