"""Round checkpointing with per-partition lineage (SURVEY.md §4.3.4).

Iceberg-snapshot semantics emulated on plain parquet (no Iceberg catalog in
the sandbox, §7.3.6): each round writes its tables under ``round=K/`` and then
atomically commits by writing ``_manifest.json`` *last*. A manifest records
row counts, the parquet file list per table (per-partition lineage), and the
round's fetch/parse metrics. Resume = max committed round; uncommitted
(manifest-less) round dirs are torn down on startup, which makes replay after
a kill idempotent — the reference analog is its skip-if-exists file sinks
(base.js:135-138,164-167).

On a real cluster the same interface binds to an Iceberg catalog
(``df.writeTo(...).append()`` + snapshot ids) — the engine only ever calls
``commit_round`` / ``latest_round`` / ``load`` / ``load_all_deltas``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from crawler_spark import schemas as _schemas

# checkpoint tables have FIXED schemas — reading with an explicit schema
# skips the footer-merge job spark.read.parquet otherwise runs per read
# (the crawl loop reads these dirs several times per round; the schema-
# inference jobs were a measurable slice of per-round driver overhead)
_TABLE_SCHEMAS = {
    "frontier": _schemas.FRONTIER,
    # delta frontier storage (EngineConfig.frontier_storage="delta"):
    # non-snapshot rounds persist O(batch) add/del deltas instead of the
    # O(frontier) snapshot
    "frontier_add": _schemas.FRONTIER,
    "frontier_del": _schemas.URL_SEEN,
    "seen_delta": _schemas.URL_SEEN,
    "records_delta": _schemas.RECORDS,
    "webtext_delta": _schemas.WEBTEXT,
    "fetch_log_delta": _schemas.FETCH_LOG,
    # opt-in (EngineConfig.persist_link_graph): page→link edges per round
    "link_graph_delta": _schemas.LINK_GRAPH,
}


class Checkpointer:
    MANIFEST = "_manifest.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- commit protocol ----------------------------------------------------
    def round_dir(self, round_no: int) -> str:
        return os.path.join(self.root, f"round={round_no}")

    def committed_rounds(self) -> list[int]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for d in os.listdir(self.root):
            if d.startswith("round=") and os.path.exists(
                os.path.join(self.root, d, self.MANIFEST)
            ):
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def sum_metric(self, name: str) -> int:
        """Sum a per-round metric over all committed manifests — manifest
        reads only, no Spark job (used to size/enable the Bloom sidecar)."""
        total = 0
        for r in self.committed_rounds():
            with open(os.path.join(self.round_dir(r), self.MANIFEST)) as fh:
                total += int(json.load(fh).get("metrics", {}).get(name, 0) or 0)
        return total

    def round_metric(self, round_no: int, name: str):
        """One metric from a committed round's manifest (file read, no
        Spark job); None if the round or metric is absent."""
        path = os.path.join(self.round_dir(round_no), self.MANIFEST)
        try:
            with open(path) as fh:
                return json.load(fh).get("metrics", {}).get(name)
        except (OSError, ValueError):
            return None

    def wipe(self) -> None:
        """Remove ALL committed state (round dirs + compacts) — the fresh-
        start path (``run(resume=False)`` over an existing checkpoint).
        Without it, a shorter re-run overwrites only rounds 0..k while
        stale rounds k+1..n stay committed: ``load_all_deltas`` would union
        them into the outputs and a later resume would continue the OLD
        crawl from its round-n frontier."""
        for d in list(os.listdir(self.root)):
            if d.startswith("round=") or d == "compact":
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
            elif d == "frontier_expiry.json":
                os.remove(os.path.join(self.root, d))

    def cleanup_partial(self) -> None:
        """Remove round dirs that never committed (kill mid-round)."""
        latest = self.latest_round()
        for d in list(os.listdir(self.root)):
            if not d.startswith("round="):
                continue
            k = int(d.split("=", 1)[1])
            if latest is None or k > latest:
                if not os.path.exists(os.path.join(self.root, d, self.MANIFEST)):
                    shutil.rmtree(os.path.join(self.root, d))

    def commit_round(
        self,
        round_no: int,
        tables: dict[str, DataFrame],
        metrics: dict,
        stats_cb=None,
    ) -> dict:
        """Write all tables, then the manifest (the commit point).

        Each table's write wall lands in ``metrics["commit_s"][name]``.
        ``stats_cb(lineage) -> dict``, when given, runs after the table
        writes and before the manifest; its result is merged into
        ``metrics`` (mutating the caller's dict) so per-round metrics can
        be derived from the just-written files instead of extra Spark
        actions over the round lineage."""
        rdir = self.round_dir(round_no)

        def _write(name: str) -> tuple[dict, float]:
            path = os.path.join(rdir, name)
            t0 = time.perf_counter()
            tables[name].write.mode("overwrite").parquet(path)
            wall = round(time.perf_counter() - t0, 3)
            files = sorted(
                f
                for f in os.listdir(path)
                if f.endswith(".parquet") or f.startswith("part-")
            )
            return {"path": path, "files": files, "n_files": len(files)}, wall

        # the table writes are independent (disjoint dirs, manifest only
        # after ALL succeed) — submit them as concurrent Spark jobs, one
        # thread per table, so the commit's wall is the slowest write, not
        # the sum. On a cluster the concurrent stages also fill executors a
        # sequential tail wouldn't.
        with ThreadPoolExecutor(max_workers=len(tables) or 1) as pool:
            written = dict(zip(tables, pool.map(_write, tables)))
        lineage = {name: entry for name, (entry, _) in written.items()}
        metrics["commit_s"] = {name: wall for name, (_, wall) in written.items()}
        if stats_cb is not None:
            metrics.update(stats_cb(lineage))
        manifest = {
            "round": round_no,
            "lineage": lineage,
            "metrics": metrics,
        }
        tmp = os.path.join(rdir, self.MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, default=str)
        os.replace(tmp, os.path.join(rdir, self.MANIFEST))
        return manifest

    # -- delta compaction ----------------------------------------------------
    # A 10^4-round crawl would otherwise union 10^4 parquet dirs every round
    # just to read the seen set. ``compact`` folds all deltas ≤ K into ONE
    # table; readers then touch compact + the few later deltas. Raw round
    # dirs are NOT deleted — they stay the authoritative checkpoint (at
    # production scale they'd be expired once the compaction horizon passes;
    # keeping them makes kill-anywhere resume trivially correct here).

    def _compact_dir(self, name: str) -> str:
        return os.path.join(self.root, "compact", name)

    def compacted_upto(self, name: str) -> int | None:
        """Round covered by the newest VALID compact for ``name``."""
        d = self._compact_dir(name)
        if not os.path.isdir(d):
            return None
        vs = [
            int(s.split("=", 1)[1])
            for s in os.listdir(d)
            if s.startswith("upto=")
            and os.path.exists(os.path.join(d, s, "_SUCCESS"))
        ]
        return max(vs) if vs else None

    def compact(self, spark: SparkSession, name: str, upto: int) -> None:
        """Fold deltas of rounds ≤ ``upto`` into one table (distributed
        read+write, nothing on the driver); prune older compacts."""
        # repeating an already-covered horizon is a no-op, not a
        # read-and-overwrite of the same upto=K path (Spark refuses to
        # overwrite a path it is reading from; a retry wrapper or second
        # maintenance caller would crash — or worse on stores without
        # that guard)
        prev = self.compacted_upto(name)
        if prev is not None and upto <= prev:
            return
        df = self.load_all_deltas(spark, name, upto=upto, use_compact=True)
        if df is None:
            return
        out = os.path.join(self._compact_dir(name), f"upto={upto}")
        df.write.mode("overwrite").parquet(out)
        d = self._compact_dir(name)
        for s in os.listdir(d):
            if s.startswith("upto=") and int(s.split("=", 1)[1]) < upto:
                shutil.rmtree(os.path.join(d, s), ignore_errors=True)

    # -- delta-frontier expiry -------------------------------------------------
    # Delta mode appends O(batch) frontier_add/frontier_del dirs every round
    # and an O(frontier) snapshot every interval — unbounded over a 10^4-round
    # crawl, and at 10^10 frontier rows the OLD SNAPSHOTS dominate storage.
    # A snapshot subsumes every add/del ≤ its round (that is what
    # _load_frontier_state replays), so history behind a kept snapshot is
    # reconstructible-from-newer and safe to expire.

    def expire_frontier(self, keep_intervals: int = 2) -> int | None:
        """Expire delta-frontier history: keep the newest ``keep_intervals``
        frontier snapshots plus all add/del deltas at-or-after the oldest
        kept snapshot; delete older snapshots and older add/del dirs.

        Returns (and records in ``frontier_expiry.json``) the horizon —
        the oldest round a resume can still replay from. Output deltas
        (records/webtext/seen/fetch_log) are NEVER touched: they remain the
        authoritative crawl output, and the seen set keeps its own compact.
        Manifests stay intact; ``has_table`` reflects the expiry, which is
        what every reader branches on."""
        snaps = [
            r for r in self.committed_rounds() if self.has_table(r, "frontier")
        ]
        if len(snaps) <= max(1, keep_intervals):
            return None
        horizon = snaps[-keep_intervals]
        # crash-safe ordering (same as the CatalogCheckpointer twin):
        # record the horizon FIRST — atomically — then delete. A kill
        # mid-rmtree otherwise leaves a half-deleted snapshot dir that
        # has_table still reports present, with no horizon on disk to
        # refuse the truncated read on resume.
        expiry = os.path.join(self.root, "frontier_expiry.json")
        tmp = expiry + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"resume_horizon": horizon}, fh)
        os.replace(tmp, expiry)
        for r in self.committed_rounds():
            if r >= horizon:
                continue
            for t in ("frontier", "frontier_add", "frontier_del"):
                p = os.path.join(self.round_dir(r), t)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
        return horizon

    def frontier_horizon(self) -> int | None:
        """Oldest round frontier state can be reconstructed for (None =
        full history)."""
        try:
            with open(os.path.join(self.root, "frontier_expiry.json")) as fh:
                return json.load(fh).get("resume_horizon")
        except (OSError, ValueError):
            return None

    # -- readers --------------------------------------------------------------
    @staticmethod
    def _reader(spark: SparkSession, name: str):
        r = spark.read
        sch = _TABLE_SCHEMAS.get(name)
        return r.schema(sch) if sch is not None else r

    def load(self, spark: SparkSession, round_no: int, name: str) -> DataFrame:
        return self._reader(spark, name).parquet(
            os.path.join(self.round_dir(round_no), name)
        )

    def has_table(self, round_no: int, name: str) -> bool:
        """Whether a committed round persisted ``name`` (delta-frontier
        rounds write add/del tables instead of the snapshot)."""
        return os.path.isdir(os.path.join(self.round_dir(round_no), name))

    def load_all_deltas(
        self,
        spark: SparkSession,
        name: str,
        upto: int | None = None,
        after: int | None = None,
        use_compact: bool = True,
    ) -> DataFrame | None:
        """Union of a delta table across committed rounds (≤ upto, > after).

        When a valid compact covers rounds ≤ K and the requested window
        allows it (no ``after`` below K; ``upto`` ≥ K), the compact replaces
        those K+1 dir reads; otherwise the raw per-round dirs are used.
        """
        rounds = self.committed_rounds()
        if upto is not None:
            rounds = [r for r in rounds if r <= upto]
        if after is not None:
            rounds = [r for r in rounds if r > after]

        compact_path = None
        if use_compact and after is None:
            k = self.compacted_upto(name)
            if k is not None and (upto is None or k <= upto):
                compact_path = os.path.join(self._compact_dir(name), f"upto={k}")
                rounds = [r for r in rounds if r > k]

        paths = [
            os.path.join(self.round_dir(r), name)
            for r in rounds
            if os.path.isdir(os.path.join(self.round_dir(r), name))
        ]
        if compact_path is not None:
            paths.insert(0, compact_path)
        if not paths:
            return None
        return self._reader(spark, name).parquet(*paths)

    def manifest(self, round_no: int) -> dict:
        with open(os.path.join(self.round_dir(round_no), self.MANIFEST)) as fh:
            return json.load(fh)
