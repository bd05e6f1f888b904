"""FastF1-shaped laps ingest as a first-class Spark Python DataSource.

The reference's ingest boundary is a per-race fetch: FastF1 downloads one
session at a time and the season loop iterates races
(reference: ``src/ingest/ingest_season_laps.py:44-67`` — one
``ingest_one_race`` call per (year, event) pair). This module re-expresses
that boundary Spark-first with the Spark 4 Python Data Source API
(``pyspark.sql.datasource``): a ``fastf1_laps`` format whose unit of
parallelism IS the race — one ``InputPartition`` per race file, so a
season's ingest fans out across executors instead of looping on a driver,
and a 1000-race backfill scales exactly like any other partitioned scan.

The network itself cannot run in this environment (SURVEY §1/§7), so the
"fetch" reads a per-race JSON-lines fixture file — the partition/schema/
pushdown plumbing is the real, portable engine code; swapping the body of
``_read_race_file`` for a FastF1 session call is the only production delta.

Filter pushdown: races are addressed by file, so equality/IN filters on
``GrandPrix`` prune whole files before any byte is read — the custom-source
analog of parquet partition pruning. All other filters are returned to
Spark to evaluate post-scan (the API contract: yield what you can't
serve).

Rows stream out as plain tuples in declared-schema order; Spark applies the
schema, so the reader needs no pandas/Arrow dependency and a malformed
record fails loudly at the boundary instead of corrupting downstream laps
analytics.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    In,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

# Declared schema == the ingest keep-list + session key + metadata
# (sources/laps_ingest.py LAP_COLUMNS / LAP_KEY; reference
# ingest_laps.py:37-50). DDL form so the source is usable from pure SQL.
FASTF1_LAPS_SCHEMA_DDL = (
    "Driver string, Team string, LapNumber double, Stint double, "
    "Compound string, TyreLife double, LapTime double, "
    "Sector1Time double, Sector2Time double, Sector3Time double, "
    "PitInTime double, PitOutTime double, IsAccurate boolean, "
    "TrackStatus string, Year int, GrandPrix string, Session string, "
    "IngestedAt string"
)


def race_file_name(grand_prix: str) -> str:
    """Race → fixture file slug (spaces to underscores, lowered). The file
    name is the pushdown key, so it must be a pure function of the
    GrandPrix value."""
    return grand_prix.replace(" ", "_").lower() + ".jsonl"


class RacePartition(InputPartition):
    """One race file = one input partition = one ingest task."""

    def __init__(self, path: str):
        self.path = path


class FastF1LapsReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        root = options.get("path")
        if not root:
            raise ValueError("fastf1_laps requires .option('path', <dir>)")
        self._root = root
        self._fields = [f.name for f in schema.fields]
        self._wanted_races: set[str] | None = None  # None = all races

    # -- pushdown -----------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Serve GrandPrix equality/IN at file granularity; everything else
        goes back to Spark. Accepted filters prune ``partitions()`` below —
        a pruned race file is never opened."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("GrandPrix",):
                self._intersect_races({str(f.value)})
            elif isinstance(f, In) and f.attribute == ("GrandPrix",):
                self._intersect_races({str(v) for v in f.value})
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def _intersect_races(self, races: set[str]) -> None:
        names = {race_file_name(r) for r in races}
        if self._wanted_races is None:
            self._wanted_races = names
        else:
            self._wanted_races &= names

    # -- planning -----------------------------------------------------------
    def partitions(self) -> Sequence[RacePartition]:
        files = sorted(
            n for n in os.listdir(self._root) if n.endswith(".jsonl")
        )
        if self._wanted_races is not None:
            files = [n for n in files if n in self._wanted_races]
        return [RacePartition(os.path.join(self._root, n)) for n in files]

    # -- execution (runs on executors) --------------------------------------
    def read(self, partition: RacePartition) -> Iterator[tuple]:
        yield from _read_race_file(partition.path, self._fields)


def _read_race_file(path: str, fields: list[str]) -> Iterator[tuple]:
    """The per-race 'fetch'. Production would call
    ``fastf1.get_session(...).load()`` here; the fixture form reads the
    race's JSON-lines dump. Missing keys surface as NULL (same contract as
    the reference's mongo_safe None mapping)."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            yield tuple(rec.get(name) for name in fields)


class FastF1LapsDataSource(DataSource):
    """``spark.read.format("fastf1_laps").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "fastf1_laps"

    def schema(self) -> str:
        return FASTF1_LAPS_SCHEMA_DDL

    def reader(self, schema: StructType) -> FastF1LapsReader:
        return FastF1LapsReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return FastF1LapsWriter(self.options, overwrite)

    def streamReader(self, schema: StructType) -> "FastF1LapsStreamReader":
        return FastF1LapsStreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return FastF1LapsStreamWriter(self.options)


def register(spark) -> None:
    from f1_bigdata_pyspark_spark.session import set_up_workers

    set_up_workers(spark)
    spark.dataSource.register(FastF1LapsDataSource)


# -- write side --------------------------------------------------------------
#
# The reference's ingest also PUBLISHES (Mongo bulk upserts,
# ingest_season_laps.py:80-108). The sink half of the custom source mirrors
# that boundary with the DataSourceWriter two-phase commit: every task
# stages its rows as a private JSONL file, the driver's commit() publishes
# the staged files atomically-enough (rename + _SUCCESS manifest) only
# when ALL tasks succeeded, and abort() removes the stage — so a failed
# job never leaves a half-written season visible to the reader, the same
# all-or-nothing contract a FileOutputCommitter gives parquet. Round-trips
# with the reader above: published files are ordinary per-partition
# ``*.jsonl`` drops.


@dataclass
class _StagedFile(WriterCommitMessage):
    staged_path: str
    final_name: str
    n_rows: int


class FastF1LapsWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        root = options.get("path")
        if not root:
            raise ValueError("fastf1_laps requires .option('path', <dir>)")
        self._root = root
        self._overwrite = overwrite

    # executor side: stage one private file per task
    def write(self, iterator) -> _StagedFile:
        import uuid

        stage_dir = os.path.join(self._root, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        token = uuid.uuid4().hex
        staged = os.path.join(stage_dir, f"part-{token}.jsonl.tmp")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=float) + "\n")
                n += 1
        return _StagedFile(
            staged_path=staged, final_name=f"part-{token}.jsonl", n_rows=n
        )

    # driver side: publish all staged files, or none
    def commit(self, messages) -> None:
        if self._overwrite:
            for name in os.listdir(self._root):
                if name.endswith(".jsonl"):
                    os.remove(os.path.join(self._root, name))
        total = 0
        published = []
        for m in messages:
            os.replace(
                m.staged_path, os.path.join(self._root, m.final_name)
            )
            published.append(m.final_name)
            total += m.n_rows
        manifest = {"files": sorted(published), "rows": total}
        with open(
            os.path.join(self._root, "_SUCCESS"), "w", encoding="utf-8"
        ) as fh:
            fh.write(json.dumps(manifest))
        self._cleanup_stage()

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged_path):
                os.remove(m.staged_path)
        self._cleanup_stage()

    def _cleanup_stage(self) -> None:
        stage_dir = os.path.join(self._root, "_staging")
        if os.path.isdir(stage_dir) and not os.listdir(stage_dir):
            os.rmdir(stage_dir)


# -- stream side -------------------------------------------------------------
#
# A season during the season IS a stream: races publish one at a time and
# the reference re-runs its batch ingest per race (the "simulated
# velocity" of SURVEY §2.9). The streaming half of the source makes that
# native: offsets are positions in the sorted race-file list, each
# micro-batch covers the files that appeared since the last committed
# offset (one InputPartition per new race — the same parallelism unit as
# the batch reader), and Spark's checkpoint persists the offset, so a
# restarted query resumes at the first unprocessed race instead of
# re-ingesting the season. Composes with the corpus/upsert foreachBatch
# sinks like any other stream.


class FastF1LapsStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: StructType):
        root = options.get("path")
        if not root:
            raise ValueError("fastf1_laps requires .option('path', <dir>)")
        self._root = root
        self._fields = [f.name for f in schema.fields]

    def _files(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self._root) if n.endswith(".jsonl")
        )

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        # offsets carry the consumed FILE NAMES, not an index into the
        # current sorted listing: an index shifts when a new file sorts
        # BEFORE the committed position (bahrain.jsonl arriving after
        # monaco.jsonl was consumed), silently skipping the new file and
        # re-reading an old one. Name sets are stable under arrival
        # order; the payload is bounded by the per-season race count.
        # Encoded as a JSON LIST (offsets are JSON dicts), never a
        # delimiter join — a delimiter join corrupts on names containing
        # the delimiter.
        return {"seen": self._files()}

    def _offset_names(self, offset: dict) -> list[str]:
        """Decode any historical offset shape to the file-name list it
        denotes. Three generations coexist in live checkpoints: legacy
        ``{"index": N}`` (prefix of the current sorted listing — both
        START and END must map, else a replayed in-flight batch whose END
        is still legacy would plan an EMPTY target and permanently skip
        its files), comma-joined ``{"seen": "a,b"}``, and the current
        JSON-list ``{"seen": [...]}``."""
        if "index" in offset:
            return self._files()[: offset["index"]]
        seen = offset.get("seen", [])
        if isinstance(seen, str):  # legacy comma join
            return [n for n in seen.split(",") if n]
        return list(seen)

    def partitions(self, start: dict, end: dict) -> Sequence[RacePartition]:
        seen = set(self._offset_names(start))
        target = self._offset_names(end)
        return [
            RacePartition(os.path.join(self._root, n))
            for n in target
            if n not in seen
        ]

    def read(self, partition: RacePartition) -> Iterator[tuple]:
        yield from _read_race_file(partition.path, self._fields)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to release

    def stop(self) -> None:
        pass


class FastF1LapsStreamWriter(DataSourceStreamWriter):
    """Streaming sink half of the DataSource: per-epoch two-phase commit
    with REPLAY IDEMPOTENCE. Executors stage one private file per task
    (same staging discipline as the batch writer); the driver publishes
    an epoch atomically by writing ``_batch-{id}.json`` listing the
    epoch's files. After a checkpoint-recovery replay, Spark re-runs the
    last uncommitted epoch with the SAME batchId — commit() sees the
    existing epoch manifest and DISCARDS the re-staged files instead of
    double-publishing, which is exactly-once delivery on top of an
    at-least-once stream. Crash window, stated honestly: a failure
    BETWEEN promoting part files and writing the epoch manifest leaves
    promoted-but-unmanifested files that a reader CAN see until the next
    successful commit's ``_sweep_unmanifested`` removes them and the
    replay re-publishes the epoch — a transient partial-epoch view that
    heals, unlike sources/snapshots.py whose readers plan from the
    manifest alone and never see one."""

    def __init__(self, options: dict):
        root = options.get("path")
        if not root:
            raise ValueError("fastf1_laps requires .option('path', <dir>)")
        self._root = root

    def write(self, iterator) -> _StagedFile:
        import uuid

        stage_dir = os.path.join(self._root, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        token = uuid.uuid4().hex
        staged = os.path.join(stage_dir, f"epoch-{token}.jsonl.tmp")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=float) + "\n")
                n += 1
        return _StagedFile(
            staged_path=staged, final_name=f"part-{token}.jsonl", n_rows=n
        )

    def _sweep_unmanifested(self) -> None:
        """Reclaim part files a crashed commit() promoted but never
        published: a crash between os.replace and the manifest write
        leaves part-*.jsonl under final names that no _batch-*.json
        references — readers ignore them (manifest-listed files only),
        but nothing else ever deletes them. The replay of that epoch
        restages with FRESH tokens, so an unmanifested part file can
        never belong to a commit that will still succeed; sweeping at
        the next commit is safe. (Epoch commits are serialized by the
        driver — one writer per output dir, the DataSource contract.)"""
        listed: set[str] = set()
        for name in os.listdir(self._root):
            if name.startswith("_batch-") and name.endswith(".json"):
                with open(os.path.join(self._root, name), encoding="utf-8") as fh:
                    listed.update(json.load(fh).get("files", []))
        for name in os.listdir(self._root):
            if (
                name.startswith("part-")
                and name.endswith(".jsonl")
                and name not in listed
            ):
                os.remove(os.path.join(self._root, name))

    def commit(self, messages, batchId: int) -> None:
        manifest_path = os.path.join(self._root, f"_batch-{batchId}.json")
        if os.path.exists(manifest_path):
            # replayed epoch after checkpoint recovery: already published —
            # drop the re-staged files, publish nothing twice
            for m in messages:
                if m is not None and os.path.exists(m.staged_path):
                    os.remove(m.staged_path)
            return
        self._sweep_unmanifested()
        published, total = [], 0
        for m in messages:
            if m is None:
                continue
            os.replace(m.staged_path, os.path.join(self._root, m.final_name))
            published.append(m.final_name)
            total += m.n_rows
        tmp = manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"files": sorted(published), "rows": total}))
        os.replace(tmp, manifest_path)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged_path):
                os.remove(m.staged_path)
