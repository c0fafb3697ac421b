"""Checkpoint sidecars: per-key caches persisted next to the round checkpoint.

The crawl loop keeps what it learns across rounds and resumes (robots
probes, adaptive-backoff factors, trap sketches, canonical aliases, HTTP
validators, the 304 visit log) in parquet directories under ``ckpt_dir``.
They are caches keyed by host or url, not by round: each round appends a
bounded batch, readers fold the history (usually freshest row per key), and
past a file bound the directory is rewritten as its fold.

Crash semantics are the same for every sidecar. An append or a compaction
killed midway loses at most what was learned, never correctness:

* absent — no directory, or one holding no data files (a kill before the
  first write committed leaves only ``_temporary/`` or ``_SUCCESS``) — reads
  as ``None``, "nothing learned yet";
* corrupt — data files Spark cannot read — raises from :meth:`Sidecar.read`
  instead of silently reading as absent.

Compaction swaps its folded copy in by renames only, so a kill at any point
leaves every row readable: the live directory, or — when a kill fell between
moving the live directory aside and moving the copy in — the completed
``<dir>.compact``, which the next access adopts.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.operators import politeness

# compaction output: one file per this many input bytes (at least one)
_COMPACT_FILE_BYTES = 64 << 20


def freshest(df: DataFrame, key: str) -> DataFrame:
    """The newest row per ``key`` by ``updated_round``."""
    w = Window.partitionBy(key).orderBy(F.col("updated_round").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_freshest(key: str) -> Callable[[DataFrame], DataFrame]:
    """Fold for the freshest-per-key sidecars: the newest row per key,
    restamped round 0 so that any later append outranks it."""
    return lambda t: freshest(t, key).withColumn("updated_round", F.lit(0))


def keep_all(t: DataFrame) -> DataFrame:
    """Fold for log sidecars: history, every row kept."""
    return t


class Sidecar:
    """One parquet directory: append per round, read, compact past
    ``max_files`` data files by rewriting it as ``fold(read())``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fold: Callable[[DataFrame], DataFrame],
        max_files: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.fold = fold
        self.max_files = max_files

    def _adopt_compacted(self) -> None:
        """Finish a compaction killed between its two renames: with the
        live directory gone, a completed ``<dir>.compact`` holds every row,
        so it becomes the live directory."""
        tmp = self.path + ".compact"
        if not os.path.isdir(self.path) and os.path.exists(
            os.path.join(tmp, "_SUCCESS")
        ):
            os.replace(tmp, self.path)

    def _data_files(self) -> list[os.DirEntry] | None:
        """Data files (names starting with ``_`` or ``.`` are Spark
        bookkeeping), or None when the directory does not exist."""
        self._adopt_compacted()
        try:
            return [
                e
                for e in os.scandir(self.path)
                if e.is_file() and not e.name.startswith(("_", "."))
            ]
        except FileNotFoundError:
            return None

    def nbytes(self) -> int | None:
        """Driver-known on-disk size of the data files; None when the
        directory does not exist."""
        files = self._data_files()
        return None if files is None else sum(e.stat().st_size for e in files)

    def read(self) -> DataFrame | None:
        """The raw table, or None when the sidecar is absent. Any read
        error on present data files propagates."""
        if not self._data_files():
            return None
        return self.spark.read.parquet(self.path)

    def append(self, df: DataFrame) -> None:
        # adopt first: an append would otherwise create a live directory
        # beside a completed compaction and hide its rows
        self._adopt_compacted()
        df.write.mode("append").parquet(self.path)
        self.compact()

    def compact(self, max_files: int | None = None) -> None:
        """Past the file bound, write the folded rows to ``<dir>.compact``
        (output width from the bytes read) and swap that in: the live
        directory is renamed to ``<dir>.old``, the copy renamed into its
        place, and only then is the old directory deleted."""
        bound = self.max_files if max_files is None else max_files
        files = self._data_files()
        if files is None or len(files) <= bound:
            return
        n_bytes = sum(e.stat().st_size for e in files)
        width = max(1, n_bytes // _COMPACT_FILE_BYTES)
        tmp = self.path + ".compact"
        self.fold(self.read()).coalesce(width).write.mode("overwrite").parquet(
            tmp
        )
        old = self.path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(self.path, old)
        os.replace(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def broadcast_if_small(self, df: DataFrame) -> DataFrame:
        """``df``, derived from this sidecar, with a broadcast hint while
        the sidecar's on-disk bytes fit ``politeness.BROADCAST_MAX_BYTES``
        (read at call time); a plain shuffle join past that."""
        if (self.nbytes() or 0) <= politeness.BROADCAST_MAX_BYTES:
            return F.broadcast(df)
        return df
