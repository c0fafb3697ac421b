"""Catalog-backed Checkpointer (the Iceberg binding, SURVEY.md §7.3.6).

``Checkpointer`` (plans/checkpoint.py) emulates Iceberg snapshot semantics on
plain parquet dirs; this twin implements the SAME interface over Spark SQL
catalog tables, so a cluster with an Iceberg catalog configured
(``spark.sql.catalog.<name>`` = org.apache.iceberg.spark.SparkCatalog) gets
real Iceberg tables without touching the engine: pass
``EngineConfig(catalog_checkpoint="<catalog>.<ns>.<prefix>")`` and every
round's tables land in ``<catalog>.<ns>.<prefix>_<table>`` partitioned by
``__round``, with the manifest row appended LAST to ``<prefix>__manifests``
as the atomic commit point.

Write path capability probe: ``DataFrameWriterV2`` (``writeTo(...).append()``
— Iceberg / any V2 catalog) first, falling back to the V1
``saveAsTable(mode="append")`` for session-catalog tables — which is what
makes this backend fully testable in the sandbox (no Iceberg jars) while the
identical control flow drives Iceberg in production.

Crash safety WITHOUT filesystem cleanup: every reader filters to
``__round`` values present in the committed-manifest table, so data rows
appended by a killed, manifest-less commit are simply invisible;
``cleanup_partial`` additionally reclaims their space via ``DELETE FROM``
where the catalog supports row-level deletes (Iceberg does; V1 parquet
tables don't, and the orphan rows stay invisible either way).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# engine table names (matches Checkpointer._TABLE_SCHEMAS keys)
_KNOWN_TABLES = (
    "frontier",
    "seen_delta",
    "records_delta",
    "webtext_delta",
    "fetch_log_delta",
    "link_graph_delta",
)


class CatalogCheckpointer:
    """Same interface as ``plans.checkpoint.Checkpointer`` over catalog
    tables. ``identifier``: ``[catalog.]namespace.prefix`` — the prefix
    namespaces this crawl's tables inside the schema."""

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier
        self.root = f"catalog:{identifier}"  # for error messages
        self._manifest_tbl = self._tbl("_manifests")
        self._manifest_cache: dict[int, dict] | None = None

    def _tbl(self, name: str) -> str:
        return f"{self.identifier}_{name}"

    def _table_exists(self, tbl: str) -> bool:
        return self.spark.catalog.tableExists(tbl)

    # -- manifests ----------------------------------------------------------
    def _manifests(self) -> dict[int, dict]:
        if self._manifest_cache is not None:
            return self._manifest_cache
        out: dict[int, dict] = {}
        if self._table_exists(self._manifest_tbl):
            for r in self.spark.table(self._manifest_tbl).collect():
                out[int(r["round"])] = json.loads(r["manifest"])
        self._manifest_cache = out
        return out

    def committed_rounds(self) -> list[int]:
        return sorted(self._manifests())

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def sum_metric(self, name: str) -> int:
        return sum(
            int(m.get("metrics", {}).get(name, 0) or 0)
            for m in self._manifests().values()
        )

    def round_metric(self, round_no: int, name: str):
        m = self._manifests().get(round_no)
        return None if m is None else m.get("metrics", {}).get(name)

    def manifest(self, round_no: int) -> dict:
        return self._manifests()[round_no]

    # -- commit protocol ------------------------------------------------------
    def _write_round(self, tbl: str, df: DataFrame) -> None:
        """Write one round partition IDEMPOTENTLY: a killed commit leaves
        orphan rows in the round's partition, and a plain append on the
        re-run would duplicate them once the manifest lands — so the write
        REPLACES the partition. V2 ``overwritePartitions`` (Iceberg) first;
        V1 fallback is dynamic-partition-overwrite ``insertInto`` (same
        replace semantics for managed parquet tables)."""
        if not self._table_exists(tbl):
            try:
                df.writeTo(tbl).partitionedBy(F.col("__round")).create()
                return
            except Exception:
                df.write.partitionBy("__round").mode("errorifexists").saveAsTable(tbl)
                return
        try:
            df.writeTo(tbl).overwritePartitions()
        except Exception:
            conf = "spark.sql.sources.partitionOverwriteMode"
            prev = self.spark.conf.get(conf, "static")
            try:
                self.spark.conf.set(conf, "dynamic")
                df.write.mode("overwrite").insertInto(tbl)
            finally:
                self.spark.conf.set(conf, prev)

    def commit_round(
        self,
        round_no: int,
        tables: dict[str, DataFrame],
        metrics: dict,
        stats_cb=None,
    ) -> dict:
        """Append each table's rows under ``__round=round_no``, then the
        manifest row (the commit point). Each table's write wall lands in
        ``metrics["commit_s"][name]``.

        ``stats_cb`` is the PARQUET backend's footer-reader and is ignored
        here; the standard crawl metrics are computed with bounded Spark
        aggregations over the just-written round partitions instead
        (records/frontier row counts + one fetch-log status/bytes
        aggregate — all O(round batch) except the frontier count, which
        Iceberg serves from snapshot metadata in production)."""
        commit_s: dict[str, float] = {}
        for name, df in tables.items():
            t0 = time.perf_counter()
            self._write_round(
                self._tbl(name), df.withColumn("__round", F.lit(round_no))
            )
            commit_s[name] = round(time.perf_counter() - t0, 3)
        metrics["commit_s"] = commit_s
        # standard crawl metrics from the written partitions (same keys as
        # checkpoint._round_stats_from_written)
        stats: dict = {}
        if "fetch_log_delta" in tables:
            fl = self._round_part("fetch_log_delta", round_no)
            row = fl.agg(
                F.count(F.when(F.col("status") == 200, 1)).alias("ok"),
                # a 304 is a successful visit that cost no transfer,
                # not a failure (same rule as _round_stats_from_written)
                F.count(
                    F.when(
                        (F.col("status") != 200) & (F.col("status") != 304),
                        1,
                    )
                ).alias("failed"),
                F.count(F.when(F.col("status") == 304, 1)).alias("nm"),
                F.coalesce(
                    F.sum(F.when(F.col("status") == 200, F.col("bytes"))),
                    F.lit(0),
                ).alias("bytes"),
            ).first()
            stats.update(
                fetched_ok=int(row["ok"]),
                fetch_failed=int(row["failed"]),
                not_modified=int(row["nm"]),
                bytes_fetched=int(row["bytes"]),
            )
        if "records_delta" in tables:
            stats["records_written"] = self._round_part(
                "records_delta", round_no
            ).count()
        stats["frontier_rows"] = (
            self._round_part("frontier", round_no).count()
            if "frontier" in tables
            else None
        )
        metrics.update(stats)
        manifest = {
            "round": round_no,
            "tables": sorted(tables),
            "metrics": metrics,
        }
        mrow = self.spark.createDataFrame(
            [(round_no, json.dumps(manifest, default=str))],
            "round int, manifest string",
        )
        if not self._table_exists(self._manifest_tbl):
            try:
                mrow.writeTo(self._manifest_tbl).create()
            except Exception:
                mrow.write.mode("errorifexists").saveAsTable(self._manifest_tbl)
        else:
            try:
                mrow.writeTo(self._manifest_tbl).append()
            except Exception:
                mrow.write.mode("append").saveAsTable(self._manifest_tbl)
        self._manifest_cache = None
        return manifest

    # -- readers --------------------------------------------------------------
    def _round_part(self, name: str, round_no: int) -> DataFrame:
        return (
            self.spark.table(self._tbl(name))
            .where(F.col("__round") == F.lit(round_no))
            .drop("__round")
        )

    def load(self, spark: SparkSession, round_no: int, name: str) -> DataFrame:
        return self._round_part(name, round_no)

    def has_table(self, round_no: int, name: str) -> bool:
        m = self._manifests().get(round_no)
        return m is not None and name in m.get("tables", ())

    def load_all_deltas(
        self,
        spark: SparkSession,
        name: str,
        upto: int | None = None,
        after: int | None = None,
        use_compact: bool = True,
    ) -> DataFrame | None:
        rounds = [
            r
            for r in self.committed_rounds()
            if (upto is None or r <= upto)
            and (after is None or r > after)
            and self.has_table(r, name)
        ]
        if not rounds:
            return None
        # ONE partition-pruned scan of one table — rows from killed
        # (manifest-less) commits are excluded by the committed-round set
        return (
            self.spark.table(self._tbl(name))
            .where(F.col("__round").isin(rounds))
            .drop("__round")
        )

    # -- maintenance ----------------------------------------------------------
    def compact(self, spark: SparkSession, name: str, upto: int) -> None:
        """No-op: deltas already live in ONE table; Iceberg file compaction
        is a catalog maintenance procedure (rewrite_data_files), not an
        engine concern."""

    def compacted_upto(self, name: str):
        return None

    def cleanup_partial(self) -> None:
        """Reclaim rows from killed commits (rounds with data but no
        manifest). Readers never see them regardless (committed-round
        filter), so this is space reclamation only — best-effort DELETE,
        skipped on catalogs without row-level deletes (V1 parquet)."""
        latest = self.latest_round()
        for name in _KNOWN_TABLES:
            tbl = self._tbl(name)
            if not self._table_exists(tbl):
                continue
            try:
                if latest is None:
                    self.spark.sql(f"DELETE FROM {tbl} WHERE __round >= 0")
                else:
                    self.spark.sql(
                        f"DELETE FROM {tbl} WHERE __round > {int(latest)}"
                    )
            except Exception:
                return  # V1 catalog: orphans stay invisible; nothing to do

    def wipe(self) -> None:
        """Fresh start: drop every crawl table (manifests too)."""
        for name in _KNOWN_TABLES:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(name)}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self._manifest_tbl}")
        self._manifest_cache = None
