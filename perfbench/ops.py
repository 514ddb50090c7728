"""The operations each workload runs, and the output check.

An operation is a short list of steps.  Each step calls one public
function of the engine and is named after the layer it enters
(``queries.build``, ``exec``, ``sources.write`` ...), so the traced run
can time it as a span and attribute its Spark jobs to that layer.  The
last step returns the operation's checksum: the row count plus the sum
of ``xxhash64`` over every column, which does not depend on row order
and forces every output column to be computed (a bare ``count()`` lets
Catalyst prune result-only columns).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
from cs425_distributed_systems_mp4_mapreduce_spark.sources import formats
from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table
from cs425_distributed_systems_mp4_mapreduce_spark.streaming import windows


def checksum(df: DataFrame) -> list:
    """``[rows, sum of xxhash64 over all columns]`` in one Spark job."""
    cols = [F.to_json(F.col(c)) if t.startswith("map") else F.col(c)
            for c, t in df.dtypes]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"] if row["h"] is not None else 0)]


def stream_result(df: DataFrame) -> DataFrame:
    """The stream sums doubles in arrival order, its batch twin in exact
    decimal, so both sides are compared at 4 decimals (inputs carry 2)."""
    return df.select("window_start_s", "event_type", "n",
                     F.round("sum_value", 4).alias("sum_value"))


@dataclass(frozen=True)
class Step:
    span: str
    fn: Callable[[Any], Any]


class Catalog:
    """Builds the step lists of every operation against one session,
    table directory and scratch directory."""

    def __init__(self, spark, tables_dir: str, scratch_dir: str):
        self.spark = spark
        self.tables_dir = tables_dir
        self.scratch = scratch_dir
        self.queries = all_queries()
        self._n = 0
        #: bytes the write steps produced, and the parquet bytes they read
        self.bytes_written = 0
        self.bytes_input = 0

    def _count_write(self, path: str, source_table: str) -> None:
        for d, _, files in os.walk(path):
            self.bytes_written += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.bytes_input += os.path.getsize(
            os.path.join(self.tables_dir, f"{source_table}.parquet"))

    def _fresh(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.scratch, f"{stem}-{self._n}")

    def steps(self, op: str) -> list[Step]:
        special = {
            "csv_roundtrip": self._csv_roundtrip,
            "parquet_roundtrip": self._parquet_roundtrip,
            "stream_tumbling": self._stream_tumbling,
        }
        if op in special:
            return special[op]()
        fn = self.queries[op].fn
        return [
            Step("queries.build", lambda _: fn(self.spark, self.tables_dir)),
            Step("exec", checksum),
        ]

    def _csv_roundtrip(self) -> list[Step]:
        """Juice output of the wordcount written as CSV and read back."""
        path = self._fresh("csv")
        fn = self.queries["q_maplejuice_wordcount"].fn

        def write(df):
            formats.write_csv(df, path)
            self._count_write(path, "documents")
            return path

        def read_back(p):
            out = checksum(formats.read_csv(self.spark, p, "word string, n long"))
            shutil.rmtree(p, ignore_errors=True)
            return out

        return [
            Step("queries.build", lambda _: fn(self.spark, self.tables_dir)),
            Step("sources.write", write),
            Step("sources.read_back", read_back),
        ]

    def _parquet_roundtrip(self) -> list[Step]:
        """lineitem written partitioned by l_returnflag, read back with a
        filter on the partition column (so only one directory is read)."""
        path = self._fresh("parquet")
        li = table(self.spark, self.tables_dir, "lineitem")

        def write(_):
            formats.write_parquet_partitioned(li, path, ["l_returnflag"])
            self._count_write(path, "lineitem")
            return path

        def read_back(p):
            back = self.spark.read.parquet(p).filter(F.col("l_returnflag") == "R")
            out = checksum(back.select(*li.columns))
            shutil.rmtree(p, ignore_errors=True)
            return out

        return [Step("sources.write", write), Step("sources.read_back", read_back)]

    def _stream_tumbling(self) -> list[Step]:
        """One availableNow stream over the events replayed as 4 files,
        2 files per micro-batch, into a memory sink."""
        path = self._fresh("replay")
        name = os.path.basename(path).replace("-", "_")

        def replay(_):
            return windows.replay_dir(self.spark, self.tables_dir, path, n_chunks=4)

        def run(d):
            stream = windows.tumbling_counts_stream(
                windows.events_stream(self.spark, d, max_files_per_trigger=2))
            return windows.run_stream_to_memory(stream, self.spark, name=name)

        def collect(df):
            out = checksum(stream_result(df))
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(path, ignore_errors=True)
            # a later stream of the same name must not resume this state
            ckpt = self.spark.conf.get("spark.sql.streaming.checkpointLocation")
            shutil.rmtree(os.path.join(ckpt, name), ignore_errors=True)
            return out

        return [Step("streaming.replay_dir", replay), Step("streaming.run", run),
                Step("exec", collect)]

    def reference_frame(self, op: str) -> DataFrame:
        """The DataFrame whose checksum an operation must reproduce."""
        if op == "csv_roundtrip":
            return self.queries["q_maplejuice_wordcount"].fn(self.spark, self.tables_dir)
        if op == "parquet_roundtrip":
            li = table(self.spark, self.tables_dir, "lineitem")
            return li.filter(F.col("l_returnflag") == "R")
        if op == "stream_tumbling":
            return stream_result(
                self.queries["q_stream_tumbling"].fn(self.spark, self.tables_dir))
        return self.queries[op].fn(self.spark, self.tables_dir)
