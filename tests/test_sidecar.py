"""Checkpoint sidecars (plans/sidecar.py): absent reads as None while a
corrupt sidecar raises, and compaction leaves every freshest-per-key
reader's answer unchanged."""

import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.plans.sidecar import Sidecar, keep_all


def test_absent_reads_none_and_corrupt_raises(spark, tmp_path):
    missing = Sidecar(spark, str(tmp_path / "missing"), keep_all)
    assert missing.read() is None and missing.nbytes() is None
    # a kill before the first append committed leaves only bookkeeping
    killed = tmp_path / "killed"
    (killed / "_temporary" / "0").mkdir(parents=True)
    (killed / "_SUCCESS").write_bytes(b"")
    side = Sidecar(spark, str(killed), keep_all)
    assert side.read() is None and side.nbytes() == 0
    side.compact(max_files=0)  # nothing to fold
    assert side.read() is None
    # a data file Spark cannot read is an error, not "nothing learned"
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not parquet" * 8)
    with pytest.raises(Py4JJavaError):
        Sidecar(spark, str(bad), keep_all).read()


def _engine(spark, tmp_path):
    seeds = spark.createDataFrame(
        [("c0", 0, "http://h0/search?page=1", "page", 5, 1, None, "none")],
        "connector_id string, seed_idx int, url string, paging_style string,"
        " limit int, start_page int, max_offset int, related_policy string",
    )
    return CrawlEngine(
        spark, None, seeds, None, EngineConfig(ckpt_dir=str(tmp_path / "ck"))
    )


def _adaptive_rounds(spark):
    schema = "host string, factor double, updated_round int"
    return [
        spark.createDataFrame([("a", 2.0, 1), ("b", 4.0, 1)], schema),
        spark.createDataFrame(
            [("a", 1.0, 2), ("b", 8.0, 2), ("c", 2.0, 2)], schema
        ),
    ]


def _adaptive_answer(eng):
    return {r["host"]: r["factor"] for r in eng._load_adaptive_factors().collect()}


def _trap_rounds(spark):
    def sketches(rows, round_no):
        return (
            spark.createDataFrame(rows, "host string, u string, f string")
            .groupBy("host")
            .agg(
                F.hll_sketch_agg(F.xxhash64("u")).alias("url_sk"),
                F.hll_sketch_agg(F.xxhash64("f")).alias("fp_sk"),
            )
            .withColumn("updated_round", F.lit(round_no))
        )

    return [
        sketches([("a", "u1", "x"), ("b", "u2", "y")], 1),
        sketches([("a", "u1", "x"), ("a", "u3", "x"), ("a", "u4", "z")], 2),
    ]


def _trap_answer(eng):
    return {
        r["host"]: (r["nu"], r["nf"])
        for r in eng._load_trap_sketches()
        .select(
            "host",
            F.hll_sketch_estimate("url_sk").alias("nu"),
            F.hll_sketch_estimate("fp_sk").alias("nf"),
        )
        .collect()
    }


def _alias_rounds(spark):
    schema = "url string, canonical string, updated_round int"
    return [
        spark.createDataFrame(
            [("http://h/a", "http://h/b", 1), ("http://h/x", "http://h/y", 1)],
            schema,
        ),
        # a re-declared canonical wins; b -> c chains a onto c
        spark.createDataFrame(
            [("http://h/x", "http://h/z", 2), ("http://h/b", "http://h/c", 2)],
            schema,
        ),
    ]


def _alias_answer(eng):
    return {
        r["url"]: r["canonical_final"] for r in eng._load_alias_map().collect()
    }


@pytest.mark.parametrize(
    "attr, rounds, answer",
    [
        ("_adaptive", _adaptive_rounds, _adaptive_answer),
        ("_traps", _trap_rounds, _trap_answer),
        ("_aliases", _alias_rounds, _alias_answer),
    ],
)
def test_compaction_keeps_reader_answer(spark, tmp_path, attr, rounds, answer):
    eng = _engine(spark, tmp_path)
    side = getattr(eng, attr)
    for df in rounds(spark):
        side.append(df)
    before = answer(eng)
    assert len(before) >= 2
    side.compact(max_files=0)
    files = [f for f in os.listdir(side.path) if not f.startswith(("_", "."))]
    assert len(files) == 1
    after = answer(eng)
    if attr == "_adaptive":
        # factor 1.0 means the same as absent: compaction folds it away
        assert before["a"] == 1.0
        before = {h: f for h, f in before.items() if f != 1.0}
    assert after == before
