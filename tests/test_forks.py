"""Owned fork points (doc_parser_spark/forks.py): a driver that loops the
forking operators and plans over fresh batches must get its storage back
after each ``Forks.release()`` — no cached plan, no cached RDD left over —
and a plan build that fails must not strand the forks it made."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

WORDS = [f"w{i}" for i in range(40)]


def _docs(spark, seed: int, n: int = 40):
    """Fresh id/text batch with near-duplicate families, so every pair
    generator has candidates to verify."""
    rng = random.Random(seed)
    base = [" ".join(rng.choices(WORDS, k=30)) for _ in range(n // 4)]
    rows = [
        (i, base[i % len(base)] + " " + " ".join(rng.choices(WORDS, k=2)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, text string")


def _edges(spark, seed: int):
    rng = random.Random(seed)
    pairs = {tuple(sorted(rng.sample(range(12), 2))) for _ in range(30)}
    return spark.createDataFrame(sorted(pairs), "a_id long, b_id long")


def _events(spark, seed: int):
    rng = random.Random(seed)
    rows = [
        (datetime(2026, 1, 1) + timedelta(seconds=rng.randrange(7200)),
         rng.choice("ab"), float(rng.randrange(100)))
        for _ in range(50)
    ]
    return spark.createDataFrame(rows, "ts timestamp, k string, value double")


def _transcripts(spark, seed: int):
    from doc_parser_spark.sources.transcripts import generate_transcripts

    return spark.createDataFrame(
        generate_transcripts(n_convs=6, turns_mean=3, seed=seed,
                             whale_fraction=0.0)
    )


def _cached_plans(spark) -> bool:
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _storage(spark) -> tuple[set[int], int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (
        {i.id() for i in infos},
        sum(i.memSize() + i.diskSize() for i in infos),
    )


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    from doc_parser_spark.plans.curate import build_curation_index

    path = str(tmp_path_factory.mktemp("forks") / "idx")
    build_curation_index(spark, _transcripts(spark, 99)).write.parquet(path)
    return spark.read.parquet(path)


def _cases(spark, index):
    from doc_parser_spark.operators.curation import lm_bigram_score
    from doc_parser_spark.operators.dedup import (
        duplicated_token_fraction,
        lsh_candidate_pairs,
        simhash_hamming_pairs,
    )
    from doc_parser_spark.operators.graph import triangle_count
    from doc_parser_spark.operators.search import bm25_topk
    from doc_parser_spark.operators.temporal import rollup_timeseries
    from doc_parser_spark.plans.curate import curate_ingest, run_curation

    return {
        "lsh_candidate_pairs": lambda s: lsh_candidate_pairs(
            _docs(spark, s), "id", "text", max_bucket=4),
        "duplicated_token_fraction": lambda s: duplicated_token_fraction(
            _docs(spark, s), "id", "text"),
        "simhash_hamming_pairs": lambda s: simhash_hamming_pairs(
            _docs(spark, s), "id", "text"),
        "lm_bigram_score": lambda s: lm_bigram_score(
            _docs(spark, s), "id", "text"),
        "bm25_topk": lambda s: bm25_topk(
            _docs(spark, s), "id", "text", ["w1", "w7"]),
        "triangle_count": lambda s: triangle_count(_edges(spark, s)),
        "rollup_timeseries": lambda s: rollup_timeseries(
            _events(spark, s), "ts", ["k"], "value"),
        "run_curation": lambda s: run_curation(
            spark, _transcripts(spark, s))[0],
        "curate_ingest": lambda s: curate_ingest(
            spark, _transcripts(spark, s), index)[0],
    }


@pytest.fixture
def one_shuffle_partition(spark):
    """Tiny batches: one reduce task per stage keeps the loop's ~27 plans
    near a minute."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", before)


def test_release_returns_storage_after_every_batch(
    spark, index, one_shuffle_partition
):
    from doc_parser_spark.forks import Forks

    spark.catalog.clearCache()
    base_ids, base_bytes = _storage(spark)

    for seed in range(3):
        for name, build in _cases(spark, index).items():
            # run_curation/curate_ingest open their own scope inside this
            # one: the outer release must free theirs too
            with Forks() as forks:
                out = build(seed)
            out.collect()
            assert _cached_plans(spark), f"{name}: forked nothing"
            forks.release()
            assert not _cached_plans(spark), f"{name}: cached plan left"
            ids, nbytes = _storage(spark)
            assert ids <= base_ids, f"{name}: cached RDDs {ids - base_ids}"
            assert nbytes <= base_bytes, name


def test_stats_unpersist_releases_the_plan_forks(spark):
    from doc_parser_spark.plans.curate import run_curation

    spark.catalog.clearCache()
    vectors, stats = run_curation(spark, _transcripts(spark, 7))
    vectors.collect()
    assert _cached_plans(spark)
    stats.unpersist()
    assert not _cached_plans(spark)


def test_failed_plan_build_releases_its_forks(spark, index):
    """An unhashed ingest against a hashed index fails while the plan is
    built, after the in-batch fork points were persisted."""
    from doc_parser_spark.plans.curate import curate_ingest

    spark.catalog.clearCache()
    with pytest.raises(Exception, match="(?i)data type|cannot resolve"):
        curate_ingest(spark, _transcripts(spark, 3), index, hashed=False)
    assert not _cached_plans(spark)

