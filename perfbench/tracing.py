"""Per-layer tracing for the crawl benchmark.

Spans are recorded only here, around calls from ``plans.rounds`` into each
layer's public functions; nothing inside ``crawler_spark`` changes. A
``Tracer`` patches those entry points for the duration of one crawl and
restores them afterwards.

* Layer functions that return lazy DataFrames (``pop_batch``,
  ``fixture_fetch``, ``add_candidates`` ...) do their real work later, inside
  whichever action runs the round DAG — usually the commit. Their spans
  measure driver plan-building time only, which is why those metrics are
  named ``*.plan_s``.
* ``plans.rounds`` binds the extract factories by name, so they are patched
  on that module. The batch functions they return are wrapped so the time
  spent inside them on the Python workers is summed through accumulators
  (input-batch decoding is excluded).
* Spark jobs are attributed to spans by submission time, read from the
  uncompressed event log that only the traced session enables.
  ``Checkpointer.commit_round`` submits its writes from a thread pool, which
  job groups would miss; their submission times still fall inside its span.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import time
from collections import defaultdict

# (owner, attribute, span name); owners are resolved at patch time so that
# importing this module touches no Spark state — Python workers import it
# to unpickle the extract wrappers
PATCHES = (
    ("rounds", "apply_robots", "politeness"),
    ("rounds", "pop_batch", "politeness"),
    ("rounds", "salted_host_repartition", "politeness"),
    ("rounds", "fixture_fetch", "fetch"),
    ("rounds", "add_candidates", "frontier"),
    ("rounds", "remove_popped", "frontier"),
    ("rounds", "seeds_to_frontier", "frontier"),
    ("BloomTable", "filter_unseen", "seen.filter"),
    ("BloomTable", "build", "seen.bloom_build"),
    ("BloomTable", "update", "seen.bloom_update"),
    ("BloomTable", "mark_deleted", "seen.revoke"),
    ("BloomTable", "set_revoked_df", "seen.revoke"),
    ("Checkpointer", "commit_round", "checkpoint.commit"),
    ("Checkpointer", "load", "checkpoint.load"),
    ("Checkpointer", "load_all_deltas", "checkpoint.load"),
    ("Checkpointer", "compact", "checkpoint.compact"),
    ("Checkpointer", "expire_frontier", "checkpoint.compact"),
)
SPARK_LAYERS = (
    "rounds", "politeness", "fetch", "frontier", "extract", "seen",
    "checkpoint",
)
SPARK_FIELDS = ("jobs", "tasks", "executor_s", "cpu_s", "shuffle_bytes")


def timed_batch(fn, accs):
    """Wrap a mapInPandas batch function: add the seconds spent inside
    ``fn`` (minus the time its input iterator spends decoding Arrow
    batches), the input rows and the output rows to the three
    accumulators ``accs``."""
    acc_s, acc_in, acc_out = accs

    def _wrapped(it):
        clock = time.perf_counter
        pulling = [0.0]

        def pull():
            while True:
                t = clock()
                pdf = next(it, None)
                pulling[0] += clock() - t
                if pdf is None:
                    return
                acc_in.add(len(pdf))
                yield pdf

        gen = fn(pull())
        while True:
            t, p0 = clock(), pulling[0]
            out = next(gen, None)
            acc_s.add(clock() - t - (pulling[0] - p0))
            if out is None:
                return
            acc_out.add(len(out))
            yield out

    return _wrapped


class Tracer:
    """Records spans around layer entry points while it is entered."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.spans: list[tuple[str, float, float, int]] = []
        self.commit_ends: list[float] = []
        self.run_window: tuple[float, float] | None = None
        self.revoked = 0
        self.accs = {
            kind: (sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0))
            for kind in ("records", "links")
        }
        self._depth = 0
        self._patched: list[tuple[object, str, object]] = []

    def _spanned(self, fn, name):
        def wrapper(*args, **kwargs):
            self._depth += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                self._depth -= 1
                self.spans.append((name, t0, t1, self._depth))
                if name == "checkpoint.commit":
                    self.commit_ends.append(t1)

        return wrapper

    def _patch(self, owner, attr, new):
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def __enter__(self):
        from crawler_spark.operators.seen import BloomTable
        from crawler_spark.plans import rounds
        from crawler_spark.plans.checkpoint import Checkpointer

        owners = {
            "rounds": rounds, "BloomTable": BloomTable,
            "Checkpointer": Checkpointer,
        }
        for owner, attr, span in PATCHES:
            obj = owners[owner]
            self._patch(obj, attr, self._spanned(obj.__dict__[attr], span))

        spanned_mark = BloomTable.mark_deleted

        def mark_deleted(table, hashes):
            self.revoked += len(hashes)
            return spanned_mark(table, hashes)

        self._patch(BloomTable, "mark_deleted", mark_deleted)
        for kind in ("records", "links"):
            attr = f"extract_{kind}_batch_for"

            def factory(cfg_map, _orig=getattr(rounds, attr), _accs=self.accs[kind]):
                return timed_batch(_orig(cfg_map), _accs)

            self._patch(rounds, attr, self._spanned(factory, "extract"))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        return False

    def run(self, engine, **kwargs):
        """``engine.run(**kwargs)``, recording its wall-clock window."""
        t0 = time.time()
        try:
            return engine.run(**kwargs)
        finally:
            self.run_window = (t0, time.time())

    def span_seconds(self) -> dict[str, float]:
        """Wall seconds per span name, outermost calls only (a layer call
        nested in another layer's span counts once, for the outer)."""
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, depth in self.spans:
            if depth == 0:
                out[name] += t1 - t0
        return out

    def layer_at(self, t: float) -> str:
        """Layer owning instant ``t``: that of the innermost span open at
        ``t``, else ``rounds`` (the loop's own code)."""
        best = None
        for name, t0, t1, depth in self.spans:
            if t0 <= t <= t1 and (best is None or depth > best[1]):
                best = (name, depth)
        return best[0].split(".")[0] if best else "rounds"


def read_event_log(path: str) -> list[dict]:
    """Jobs of an uncompressed Spark event log, by submission time (s):
    task count, executor/CPU/GC seconds and shuffle bytes written."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "t": ev["Submission Time"] / 1000.0, "tasks": 0,
                    "executor_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_bytes": 0,
                }
                # a stage listed by several jobs ran (once) in the first
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["tasks"] += 1
                job["executor_s"] += tm.get("Executor Run Time", 0) / 1e3
                job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                job["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
    return sorted(jobs.values(), key=lambda j: j["t"])


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def bloom_state(root: str) -> tuple[int, float]:
    """(bytes, persisted fpp) of the newest committed Bloom version."""
    from crawler_spark.operators.seen import BloomTable

    table = BloomTable.adopt(root)
    v = table.latest_version()
    if v is None:
        return 0, 0.0
    meta = table.meta(v) or {}
    return dir_stats(os.path.join(root, f"v{v}"))[0], float(meta.get("fpp", 0.0))


def unit_of(name: str) -> str:
    if name == "trace.urls_per_s":
        return "url/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("fpp", "share")):
        return "ratio"
    return "count"


def layer_metrics(tracer: Tracer, jobs: list[dict], rounds: list[dict],
                  ckpt_written: tuple[int, int],
                  bloom_root: str) -> dict[str, float]:
    """Per-layer metrics of one traced crawl. ``jobs`` come from
    :func:`read_event_log`, ``rounds`` is ``CrawlResult.metrics`` and
    ``ckpt_written`` the (bytes, files) the crawl added to its checkpoint."""
    t_run0, t_run1 = tracer.run_window
    run_s = t_run1 - t_run0
    spans = tracer.span_seconds()
    n_rounds = max(1, len(rounds))
    m: dict[str, float] = {}

    starts = [j["t"] for j in jobs]
    # event-log times are whole milliseconds
    run_jobs = jobs[
        bisect.bisect_left(starts, t_run0 - 1e-3):
        bisect.bisect_right(starts, t_run1 + 1e-3)
    ]
    totals = {layer: dict.fromkeys(SPARK_FIELDS, 0.0) for layer in SPARK_LAYERS}
    for j in run_jobs:
        tot = totals[tracer.layer_at(j["t"])]
        tot["jobs"] += 1
        for field in SPARK_FIELDS[1:]:
            tot[field] += j[field]
    for layer, tot in totals.items():
        for field, v in tot.items():
            m[f"{layer}.{field}"] = v

    layer_wall = sum(spans.values())
    gaps = [b - a for a, b in zip(tracer.commit_ends, tracer.commit_ends[1:])]
    m["rounds.round_s"] = statistics.median(gaps) if gaps else run_s / n_rounds
    m["rounds.rounds"] = len(rounds)
    m["rounds.jobs_per_round"] = len(run_jobs) / n_rounds
    m["rounds.tasks_per_round"] = sum(j["tasks"] for j in run_jobs) / n_rounds
    m["rounds.self_s"] = run_s - layer_wall

    m["politeness.s"] = spans["politeness"]
    m["politeness.popped"] = sum(r["popped"] for r in rounds)

    m["fetch.plan_s"] = spans["fetch"]
    m["fetch.rows"] = sum(r["fetched_ok"] for r in rounds)
    m["fetch.bytes"] = sum(r["bytes_fetched"] for r in rounds)
    m["frontier.plan_s"] = spans["frontier"]
    m["frontier.rows"] = rounds[-1].get("frontier_rows") or 0 if rounds else 0
    m["frontier.adds"] = sum(r.get("frontier_adds") or 0 for r in rounds)

    rec_s, rec_in, rec_out = (a.value for a in tracer.accs["records"])
    lnk_s, lnk_in, lnk_out = (a.value for a in tracer.accs["links"])
    m["extract.plan_s"] = spans["extract"]
    m["extract.records_udf_s"] = rec_s
    m["extract.links_udf_s"] = lnk_s
    m["extract.pages_in"] = rec_in + lnk_in
    m["extract.rows_out"] = rec_out + lnk_out

    m["seen.filter_s"] = spans["seen.filter"]
    m["seen.bloom_build_s"] = spans["seen.bloom_build"]
    m["seen.bloom_update_s"] = spans["seen.bloom_update"]
    m["seen.revoked"] = tracer.revoked
    m["seen.bloom_bytes"], m["seen.bloom_fpp"] = bloom_state(bloom_root)

    m["checkpoint.commit_s"] = spans["checkpoint.commit"]
    m["checkpoint.load_s"] = spans["checkpoint.load"]
    m["checkpoint.compact_s"] = spans["checkpoint.compact"]
    m["checkpoint.bytes_written"], m["checkpoint.files_written"] = ckpt_written

    m["spark.gc_s"] = sum(j["gc_s"] for j in run_jobs)
    m["trace.run_s"] = run_s
    m["trace.urls_per_s"] = m["fetch.rows"] / run_s
    m["trace.span_share"] = layer_wall / run_s
    return m
