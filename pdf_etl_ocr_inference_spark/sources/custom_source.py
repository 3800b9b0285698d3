"""Custom Python DataSource (Spark 4 extension API): the connector
surface for sources Spark has no built-in reader for.

The reference ingests via per-row scalar-UDF HTTP calls
(``01-download-pdfs.py:100-143``); the engine's production ingest is
the mapInPandas fetcher (``operators/ingest.py``).  This module shows
the third integration point — a first-class DataSource, which is what
you write when the upstream is a SYSTEM (a feed API, a message queue,
a proprietary store) rather than a list of URLs inside a DataFrame:
Spark plans partitions against it, schedules one task per partition,
and the source behaves like any built-in format string.

``SyntheticCorpusDataSource`` is the deterministic demonstration
instance: ``spark.read.format("graft_synth").option("n", ...)`` yields
(doc_id, bucket, score) rows generated per partition with no driver
participation — the generation rule is pure arithmetic so the DuckDB
oracle replays it exactly.  A real connector swaps the generator loop
for client reads; partition planning, option plumbing, and schema
declaration stay identical.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticCorpusReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.n = int(options.get("n", 1000))
        self.n_partitions = int(options.get("partitions", 8))

    def partitions(self):
        step = max(1, self.n // self.n_partitions)
        return [
            _RangePartition(s, min(s + step, self.n))
            for s in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        # pure function of the row id — deterministic, re-schedulable
        # (a failed task regenerates identical rows), oracle-replayable
        for i in range(partition.start, partition.end):
            yield (i, i % 7, round((i * 37 % 1000) / 1000.0, 3))


class SyntheticCorpusDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graft_synth"

    def schema(self) -> str:
        return "doc_id bigint, bucket int, score double"

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticCorpusReader(schema, self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering the same class is a
    no-op for readers)."""
    spark.dataSource.register(SyntheticCorpusDataSource)


# ------------------------------------------------------------------ #
# Streaming side of the same extension API: a custom STREAM source.  #
# The reader advances a monotonically increasing offset (row id);    #
# re-reads between committed offsets are exact (pure function of     #
# the id range) — the replayability Structured Streaming's exactly-  #
# once contract asks of a source.  A real connector would map        #
# offsets to a queue cursor / feed position.                         #
# ------------------------------------------------------------------ #

from pyspark.sql.datasource import SimpleDataSourceStreamReader


class SyntheticStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rows_per_batch", 100))
        self.max_rows = int(options.get("max_rows", 1000))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        s = int(start["pos"])
        e = min(s + self.rows_per_batch, self.max_rows)
        return (self._gen(s, e), {"pos": e})

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._gen(int(start["pos"]), int(end["pos"]))

    @staticmethod
    def _gen(s: int, e: int):
        # a list_iterator, not a generator: the simple-reader wrapper
        # both advances the result with next() (so a bare list fails)
        # and pickles it for prefetch/replay (so a generator fails);
        # builtin list iterators satisfy both, and batches are
        # rows_per_batch-bounded anyway
        return iter(
            [
                (i, i % 7, round((i * 37 % 1000) / 1000.0, 3))
                for i in range(s, e)
            ]
        )


class SyntheticStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graft_synth_stream"

    def schema(self) -> str:
        return "doc_id bigint, bucket int, score double"

    def simpleStreamReader(self, schema: StructType):
        return SyntheticStreamReader(self.options)


def register_synthetic_stream_source(spark) -> None:
    spark.dataSource.register(SyntheticStreamDataSource)


# ------------------------------------------------------------------ #
# Writer side of the extension API: a custom SINK with the task-     #
# file + driver-commit protocol.  Tasks write to uniquely named      #
# staging files and return commit messages; the driver's commit()    #
# publishes them with an atomic manifest — failed/speculated task    #
# attempts leave only unreferenced staging files (abort() sweeps     #
# them), so the sink is exactly-once at the job level.  A real       #
# connector swaps the jsonl encoding for its wire format; the        #
# protocol is the point.                                             #
# ------------------------------------------------------------------ #

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@dataclass
class _FileCommit(WriterCommitMessage):
    filename: str
    n_rows: int


class JsonlSinkWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        # unique per task ATTEMPT: speculative/retried attempts never
        # collide, and only committed filenames enter the manifest
        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _FileCommit(filename=name, n_rows=n)

    def commit(self, messages):
        import os

        from pdf_etl_ocr_inference_spark.scratch import atomic_write_json

        manifest = {
            "files": sorted(m.filename for m in messages),
            "n_rows": sum(m.n_rows for m in messages),
        }
        atomic_write_json(os.path.join(self.path, "_MANIFEST.json"), manifest)
        if self.overwrite:
            # the manifest swap above is the atomic publish; stale
            # generations' data files are no longer referenced, so
            # physically remove them — a direct directory listing,
            # disk accounting, or non-manifest-aware consumer would
            # otherwise see every previous overwrite's files forever
            live = set(manifest["files"])
            for name in os.listdir(self.path):
                if (
                    name.endswith(".jsonl")
                    and name.startswith("part-")
                    and name not in live
                ):
                    try:
                        os.remove(os.path.join(self.path, name))
                    except OSError:
                        pass

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.filename))
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graft_jsonl_sink"

    def writer(self, schema: StructType, overwrite: bool):
        return JsonlSinkWriter(self.options, overwrite)


def register_jsonl_sink(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)


def read_jsonl_sink(spark, path: str, schema):
    """Read back ONLY manifest-committed files (uncommitted staging
    debris from failed attempts is invisible, which is the protocol's
    exactly-once guarantee)."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    files = [os.path.join(path, n) for n in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
