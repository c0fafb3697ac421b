"""URL-seen set (SURVEY.md §2.3 J1, §4.3.2) — the load-bearing dedup.

Reference anchor: ``recordExists`` filesystem check (base.js:164-167) with
``--force`` bypass (base.js:165). At 10^10-URL scale the exact seen table is
too big to join every candidate against cheaply, so the design is:

1. a **partitioned Bloom filter** sidecar (one bitset per
   ``url_hash % P`` bucket, built with a grouped Arrow UDF) answers
   "definitely new" with zero shuffle over the big table;
2. candidates the Bloom *might* have seen (a tiny fraction) go through the
   **exact left-anti join** against the seen table — false positives can
   never violate URL-seen parity;
3. revoked entries (``--force`` / images-checker re-crawls, J3) need no
   structure here: the caller's seen view already leaves them out, and a
   Bloom filter has no false negatives, so every revoked hash — built into
   the bitsets while it was seen — reaches that exact confirm. Bloom
   positives are never final, so the bitsets never have to forget.

Bits are derived from the already-computed ``xxhash64(url)`` with two
splitmix64-style remixes → k indexes (standard double hashing,
Kirsch-Mitzenmacher), all vectorized in numpy over Arrow batches.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _h1_h2(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u = hashes.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(h1) | np.uint64(1)  # odd → full-period double hashing
    return h1, h2


class BloomFilter:
    """Numpy-bitset Bloom filter keyed by int64 url_hash values."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = (
            bits if bits is not None else np.zeros((n_bits + 7) // 8, dtype=np.uint8)
        )

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_items = max(n_items, 1)
        m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n_items * math.log(2)))
        return cls(m, min(k, 16))

    def add_many(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        h1, h2 = _h1_h2(np.asarray(hashes))
        m = np.uint64(self.n_bits)
        for i in range(self.n_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            np.bitwise_or.at(
                self.bits, (idx >> np.uint64(3)).astype(np.int64),
                np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8),
            )

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _h1_h2(np.asarray(hashes))
        m = np.uint64(self.n_bits)
        out = np.ones(len(h1), dtype=bool)
        for i in range(self.n_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            byte = self.bits[(idx >> np.uint64(3)).astype(np.int64)]
            bit = (byte >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
            out &= bit.astype(bool)
        return out

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(
        cls, data: bytes, n_bits: int, n_hashes: int, writable: bool = True
    ) -> "BloomFilter":
        # writable=False returns a zero-copy READONLY view: the flag paths
        # reconstruct filters per Arrow batch purely for maybe_contains,
        # and an unconditional .copy() there pays a multi-MB memcpy per
        # batch for bitsets near the 64 MB broadcast cap (numpy raises if
        # a write ever sneaks onto the view, so the contract is enforced)
        buf = np.frombuffer(data, dtype=np.uint8)
        return cls(n_bits, n_hashes, buf.copy() if writable else buf)


# ---------------------------------------------------------------------------
# Spark-side seen set


class BloomTable:
    """THE URL-seen sidecar: bitsets live in a parquet TABLE, not in
    driver memory.

    (A driver-dict variant that collected hashes to the driver and
    re-broadcast pickled bitsets each round was retired — at 10^10 URLs,
    1024 partitions × ~100 MB bitsets serialize on the driver. Below the
    Bloom threshold the engine just uses the exact anti-join.) The full
    lifecycle is distributed:

    * **build**: grouped ``applyInPandas`` over the seen table — each
      ``url_hash % P`` bucket builds its bitset on the executor holding it
      and writes a (pid, bits) parquet row; nothing returns to the driver;
    * **update**: cogroup(current bitsets, round delta) — each pid's bitset
      is OR-updated where its delta lands, untouched pids stream through;
      the delta is read back from the round's committed ``seen_delta``
      parquet, so the loop never collects hashes;
    * **query**: cogroup(candidates by pid, bitsets by pid) — each bitset is
      shipped ONCE per pid group to the executor holding that pid's
      candidates (a broadcast-join would duplicate the bitset per row).
      "Maybe seen" survivors go to the exact anti-join; false positives can
      never violate URL-seen parity, and a bloom row is only trusted when
      its version == the latest committed round (a stale bitset could say
      "definitely new" for a committed hash — the unsafe direction);
    * **revocation**: none here. The bitsets are built from the unfiltered
      seen deltas, so a revoked hash is always "maybe seen" and goes to the
      exact confirm, which reads the caller's revocation-filtered seen view
      (``CrawlEngine._seen_df``) and admits it as new.

    Versioned dirs ``v{round}`` under ``root``; the previous version is kept
    for crash safety and older ones are pruned.
    """

    SCHEMA = (
        "partition_id int, bits binary, n_bits long, n_hashes int, "
        "n_items long"
    )

    def __init__(self, root: str, n_partitions: int = 16, fpp: float = 0.01,
                 expected_per_part: int = 100_000):
        self.root = root
        self.n_partitions = n_partitions
        self.fpp = fpp
        self.expected_per_part = expected_per_part
        # version → (total_bits, broadcast payload | None): bitsets are
        # immutable per version (build/update write a NEW version dir and
        # prune the old), so the round loop's flag stage pays the metadata
        # agg + the bitset collect once per rebuild, not twice per round.
        # Only the current version is ever held (cleared on build/update),
        # and the payload is only kept under BROADCAST_MAX_BYTES, so the
        # cache is bounded by the same gate as the broadcast itself.
        self._payload_cache: dict[int, tuple[int, dict | None]] = {}

    # hashes per bucket the auto-sizer aims for: a 4M-item bitset at 1% fpp
    # is ~4.6 MB — small enough to ship per pid group / broadcast in bulk,
    # big enough that 10^10 URLs need only ~2½k buckets
    TARGET_PER_PART = 4_000_000

    @classmethod
    def sized_for(
        cls, root: str, n_seen: int, fpp: float = 0.01,
        target_per_part: int | None = None,
    ) -> "BloomTable":
        """Size the table from the seen count instead of constants:
        power-of-two partitions targeting ``TARGET_PER_PART`` hashes per
        bucket (clamped to [16, 8192]), with 1.25× headroom in each
        bucket's expected size so incremental updates between the periodic
        full rebuilds don't blow the fpp."""
        tpp = target_per_part or cls.TARGET_PER_PART
        raw = max(1.0, n_seen / tpp)
        P = 1 << math.ceil(math.log2(raw))
        P = max(16, min(8192, P))
        expected = max(1024, math.ceil(n_seen / P * 1.25))
        return cls(root, n_partitions=P, fpp=fpp, expected_per_part=expected)

    @classmethod
    def adopt(cls, root: str, fpp: float = 0.01) -> "BloomTable":
        """Open an existing table under ITS persisted partition count (so a
        resume doesn't invalidate a healthy table just because the caller
        didn't repeat the config); falls back to defaults when no committed
        version exists yet."""
        t = cls(root, fpp=fpp)
        v = t.latest_version()
        if v is not None:
            m = t.meta(v)
            if m is not None:
                return cls(
                    root, n_partitions=int(m["n_partitions"]),
                    fpp=float(m["fpp"]),
                )
        return t

    def pick_strategy(self, seen_count: int) -> str:
        """Choose the ``filter_unseen`` physical strategy from the DRIVER's
        running seen count — zero Spark jobs, vs the in-plan ``auto`` mode
        which aggregates the table's n_bits column each round. The estimate
        reproduces ``build``'s own sizing rule (each bucket is
        ``sized_for(max(bucket_rows, expected_per_part))``), using the mean
        bucket fill; skew can undershoot it, which BROADCAST_MAX_BYTES'
        margin (64 MB vs multi-GB practical broadcast limits) absorbs."""
        per_part = max(
            self.expected_per_part,
            -(-max(seen_count, 1) // self.n_partitions),
        )
        est_bits = (
            self.n_partitions * BloomFilter.sized_for(per_part, self.fpp).n_bits
        )
        return (
            "broadcast"
            if est_bits // 8 <= self.BROADCAST_MAX_BYTES
            else "cogroup"
        )

    # Revocation lives only in the caller's seen view (see the class
    # docstring). These two stubs exist solely because the benchmark
    # tracer's PATCHES table (perfbench/tracing.py) looks both names up on
    # this class; they go once those rows are dropped.
    _NO_REVOCATION = (
        "revocation is applied by the caller's revocation-filtered seen"
        " view (CrawlEngine._seen_df), not by the Bloom table"
    )

    def mark_deleted(self, hashes) -> None:
        raise NotImplementedError(self._NO_REVOCATION)

    def set_revoked_df(self, revoked) -> None:
        raise NotImplementedError(self._NO_REVOCATION)

    # -- version bookkeeping ------------------------------------------------
    def _vdir(self, version: int) -> str:
        import os

        return os.path.join(self.root, f"v{version}")

    def latest_version(self) -> int | None:
        import os

        if not os.path.isdir(self.root):
            return None
        vs = [
            int(d[1:])
            for d in os.listdir(self.root)
            if d.startswith("v") and d[1:].isdigit()
            and os.path.exists(os.path.join(self.root, d, "_SUCCESS"))
        ]
        return max(vs) if vs else None

    META = "_bloom_meta.json"

    def _write_meta(self, version: int) -> None:
        import json
        import os

        meta = {"n_partitions": self.n_partitions, "fpp": self.fpp}
        tmp = os.path.join(self._vdir(version), self.META + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(self._vdir(version), self.META))

    def meta(self, version: int) -> dict | None:
        import json
        import os

        p = os.path.join(self._vdir(version), self.META)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def compatible(self, version: int | None) -> bool:
        """A version is trustworthy only if it was built under THIS config.

        Bitsets are keyed ``pid = url_hash % n_partitions``; resuming with a
        different partition count would route candidates to the wrong bitset
        row and report committed hashes 'definitely new' — the unsafe
        direction. A missing meta (pre-meta table, or crash between parquet
        commit and meta write) or any field mismatch ⇒ treat like a stale
        version: the caller falls back to the exact anti-join and triggers a
        full rebuild."""
        if version is None:
            return False
        m = self.meta(version)
        return (
            m is not None
            and m.get("n_partitions") == self.n_partitions
            and m.get("fpp") == self.fpp
        )

    def load(self, spark: SparkSession, version: int) -> DataFrame:
        # explicit schema: skips the per-read footer-merge job (the loop
        # loads the bitset table every round)
        return spark.read.schema(self.SCHEMA).parquet(self._vdir(version))

    def _broadcast_payload(
        self, spark: SparkSession, version: int
    ) -> tuple[int, dict | None]:
        """(total_bits, {pid: (bits, n_bits, n_hashes)} | None) for
        ``v{version}``, driver-cached per version. The payload is None past
        the broadcast gate (cogroup territory — collecting it would defeat
        the gate). Two driver-side jobs (a metadata agg and the bitset
        collect) move from every filter_unseen call to once per rebuild."""
        hit = self._payload_cache.get(version)
        if hit is not None:
            return hit
        bloom_df = self.load(spark, version)
        total_bits = bloom_df.agg(F.sum("n_bits")).first()[0] or 0
        payload = None
        if total_bits // 8 <= self.BROADCAST_MAX_BYTES:
            payload = self._collect_payload(bloom_df)
        self._payload_cache = {version: (total_bits, payload)}
        return total_bits, payload

    @staticmethod
    def _collect_payload(bloom_df: DataFrame) -> dict:
        """Collect the bitset table into the broadcastable
        ``{pid: (bits, n_bits, n_hashes)}`` shape — the ONE place the
        payload layout is defined (cached path and explicit-broadcast
        override both call it)."""
        return {
            int(r["partition_id"]): (
                bytes(r["bits"]), int(r["n_bits"]), int(r["n_hashes"])
            )
            for r in bloom_df.collect()
        }

    def _prune(self, keep_from: int) -> None:
        import os
        import shutil

        if not os.path.isdir(self.root):
            return
        for d in os.listdir(self.root):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < keep_from:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    # -- build / update (both fully executor-side) --------------------------
    def build(self, seen: DataFrame, version: int) -> None:
        """Full (re)build from the exact seen table → ``v{version}``."""
        P, fpp, expected = self.n_partitions, self.fpp, self.expected_per_part

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(pdf["pid"].iloc[0])
            bf = BloomFilter.sized_for(max(len(pdf), expected), fpp)
            bf.add_many(pdf["url_hash"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {
                    "partition_id": [pid], "bits": [bf.to_bytes()],
                    "n_bits": [bf.n_bits], "n_hashes": [bf.n_hashes],
                    "n_items": [len(pdf)],
                }
            )

        (
            seen.select("url_hash")
            .withColumn("pid", F.pmod(F.col("url_hash"), F.lit(P)).cast("int"))
            .groupBy("pid")
            .applyInPandas(_build, self.SCHEMA)
            .write.mode("overwrite")
            .parquet(self._vdir(version))
        )
        self._write_meta(version)
        self._prune(version - 1)
        self._payload_cache.clear()

    def update(
        self, spark: SparkSession, from_version: int, delta: DataFrame,
        version: int,
    ) -> None:
        """OR the round delta into the bitsets → ``v{version}``.

        cogroup keeps untouched pids streaming through unchanged; pids whose
        delta outgrew the sizing are rebuilt bigger from scratch is NOT done
        here (the periodic full rebuild re-sizes — same policy as the
        driver-dict path).
        """
        P, fpp, expected = self.n_partitions, self.fpp, self.expected_per_part
        current = self.load(spark, from_version)
        d = delta.select("url_hash").withColumn(
            "pid", F.pmod(F.col("url_hash"), F.lit(P)).cast("int")
        )

        def _merge(key, bloom_pdf: pd.DataFrame, delta_pdf: pd.DataFrame):
            if len(bloom_pdf) == 0:
                bf = BloomFilter.sized_for(
                    max(len(delta_pdf), expected), fpp
                )
                n_prev = 0
            else:
                row = bloom_pdf.iloc[0]
                bf = BloomFilter.from_bytes(
                    bytes(row["bits"]), int(row["n_bits"]), int(row["n_hashes"])
                )
                n_prev = int(row["n_items"])
            if len(delta_pdf):
                bf.add_many(delta_pdf["url_hash"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {
                    "partition_id": [int(key[0])], "bits": [bf.to_bytes()],
                    "n_bits": [bf.n_bits], "n_hashes": [bf.n_hashes],
                    "n_items": [n_prev + len(delta_pdf)],
                }
            )

        (
            current.groupBy("partition_id")
            .cogroup(d.groupBy("pid"))
            .applyInPandas(_merge, self.SCHEMA)
            .write.mode("overwrite")
            .parquet(self._vdir(version))
        )
        self._write_meta(version)
        self._prune(version - 1)
        self._payload_cache.clear()

    # -- query ---------------------------------------------------------------
    # total bitset bytes up to which the flag stage broadcasts the bitsets
    # (map-side, no candidate shuffle) instead of cogroup-routing candidates
    # to the executors holding their pid's bitset. Spark broadcasts of this
    # order are routine; past it, shipping each bitset once per pid group
    # beats duplicating all bitsets to every executor.
    BROADCAST_MAX_BYTES = 64 * 1024 * 1024

    def filter_unseen(
        self,
        candidates: DataFrame,
        seen: DataFrame,
        version: int,
        hash_col: str = "url_hash",
        *,
        cache_registry: list,  # keyword-only, genuinely required
        strategy: str = "auto",
    ) -> DataFrame:
        """J1 with the table-backed Bloom pre-filter (exact confirm after).

        Physical strategy is picked like Catalyst picks broadcast joins:
        ``auto`` broadcasts the bitsets when their total size (known from
        the table's n_bits column — a metadata aggregate, no bitset bytes
        move) fits ``BROADCAST_MAX_BYTES``, flagging candidates map-side
        with ZERO candidate shuffle; bigger tables switch to cogroup
        routing, where each bitset ships once per pid group instead of once
        per executor. Both strategies return identical rows (parity-tested).

        The internal flagged frame is persisted (consumed by both the fresh
        and suspect branches); ``cache_registry`` is keyword-only and
        REQUIRED (a list the flagged handle is appended to) so every caller
        owns unpersisting it once the round's outputs are materialized —
        with a silent default, 10^4 rounds would each leak a
        candidate-set-sized cache block until session stop (round-2
        ADVICE); the signature itself now enforces the contract.

        ``seen`` must already leave out revoked hashes: the bitsets still
        hold them, so they are suspects, and this confirm admits them."""
        if cache_registry is None:
            raise TypeError(
                "filter_unseen requires cache_registry=<list>: the internal"
                " persisted frame must be owned (unpersist after the"
                " round's outputs materialize) or it leaks per call"
            )
        spark = candidates.sparkSession

        # payload is resolved only on the branches that consume it: an
        # explicit strategy="cogroup" call (rounds.py passes
        # pick_strategy(seen_count) precisely to skip per-round driver
        # jobs) must not pay the n_bits metadata agg, let alone pin an
        # unused <=64MB bitset collect in the payload cache
        if strategy == "auto":
            total_bits, payload = self._broadcast_payload(spark, version)
            strategy = (
                "broadcast"
                if total_bits // 8 <= self.BROADCAST_MAX_BYTES
                else "cogroup"
            )
        elif strategy == "broadcast":
            _, payload = self._broadcast_payload(spark, version)

        if strategy == "broadcast":
            if payload is None:
                # explicit strategy override past the gate: collect
                # uncached (the gate exists precisely so auto never does)
                payload = self._collect_payload(self.load(spark, version))
            flagged = self._flag_broadcast(spark, candidates, payload, hash_col)
        elif strategy == "cogroup":
            flagged = self._flag_cogroup(
                candidates, self.load(spark, version), hash_col
            )
        else:
            raise ValueError(f"unknown strategy {strategy!r}")
        flagged = flagged.persist()
        if cache_registry is not None:
            cache_registry.append(flagged)
        fresh = flagged.where(~F.col("__maybe")).drop("__maybe")
        suspect = flagged.where(F.col("__maybe")).drop("__maybe")
        confirmed_new = suspect.join(
            seen.select(F.col("url_hash").alias("__seen_h")),
            F.col(hash_col) == F.col("__seen_h"),
            "left_anti",
        )
        return fresh.unionByName(confirmed_new)

    def _flag_cogroup(self, candidates, bloom_df, hash_col) -> DataFrame:
        """Route candidates to their pid's bitset (big-table strategy)."""
        cand = candidates.withColumn(
            "__pid",
            F.pmod(F.col(hash_col), F.lit(self.n_partitions)).cast("int"),
        )
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in cand.schema.fields
        ) + ", __maybe boolean"

        def _flag(key, cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame):
            if len(cand_pdf) == 0:
                return cand_pdf.assign(__maybe=pd.Series([], dtype=bool))
            arr = cand_pdf[hash_col].to_numpy(dtype=np.int64)
            if len(bloom_pdf) == 0:
                maybe = np.zeros(len(arr), dtype=bool)
            else:
                row = bloom_pdf.iloc[0]
                bf = BloomFilter.from_bytes(
                    row["bits"], int(row["n_bits"]), int(row["n_hashes"]),
                    writable=False,
                )
                maybe = bf.maybe_contains(arr)
            return cand_pdf.assign(__maybe=maybe)

        return (
            cand.groupBy("__pid")
            .cogroup(bloom_df.groupBy("partition_id"))
            .applyInPandas(_flag, out_schema)
            .drop("__pid")
        )

    def _flag_broadcast(self, spark, candidates, payload, hash_col) -> DataFrame:
        """Broadcast the (bounded) bitsets; flag map-side — no candidate
        shuffle. ``payload`` arrives pre-collected (and version-cached) from
        :meth:`_broadcast_payload`, gated by BROADCAST_MAX_BYTES."""
        from pyspark.sql.functions import pandas_udf

        bc = spark.sparkContext.broadcast(payload)
        P = self.n_partitions

        @pandas_udf("boolean")
        def _maybe_seen(h: pd.Series) -> pd.Series:
            blooms_raw = bc.value
            arr = h.to_numpy(dtype=np.int64)
            pids = np.mod(arr, P)
            out = np.zeros(len(arr), dtype=bool)
            for pid in np.unique(pids):
                raw = blooms_raw.get(int(pid))
                if raw is None:
                    continue
                bf = BloomFilter.from_bytes(*raw, writable=False)
                m = pids == pid
                out[m] = bf.maybe_contains(arr[m])
            return pd.Series(out)

        return candidates.withColumn("__maybe", _maybe_seen(F.col(hash_col)))
