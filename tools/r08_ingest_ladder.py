#!/usr/bin/env python3
"""Round-8 ingest stage ladder: multi-row LSH banding + whale-skew batch.

Re-runs the round-7 plans-level ``curate_ingest`` stage decomposition
(docs/SCALE.md "Indexed curation ingest") back-to-back in ONE machine
window, with two round-8 additions the verdict asked for:

1. **Multi-row banding** (verdict #1): the in-batch LSH stage is timed at
   bands=8 (r=1, the standing policy) AND bands=4 (r=2 — rows per band =
   k // bands, already expressed by ``lsh_buckets``). Reports candidate
   volume, verified-pair count, survivor count and stage wall for both,
   plus a planted-template-family recall parity check (the
   TestHotBucketCap corpus shape: does r=2 keep the same near-dup
   clusters r=1 finds?).
2. **Whale-skew batch** (verdict #6): the same ladder on a batch where
   two conversations hold ~2/3 of the turns, with per-stage partition
   row max/mean — per-conversation grouping and LSH buckets are where
   skew would bite after extraction's salted routing.

All measurement-only: the standing contract queries keep the bands=8
default (``curate_ingest(in_batch_bands=...)`` is opt-in).

Usage (repo root): python tools/r08_ingest_ladder.py [workdir]
Results table lives in docs/SCALE.md (round 8).
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _timed(label, df, results):
    t0 = time.perf_counter()
    n = df.count()
    wall = round(time.perf_counter() - t0, 2)
    results.append({"stage": label, "rows": n, "wall_s": wall})
    print(f"  {label}: rows={n} wall={wall}s", flush=True)
    return n


def _partition_stats(df):
    import pyspark.sql.functions as F

    rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    counts = sorted(r["count"] for r in rows)
    mean = sum(counts) / len(counts)
    return {
        "partitions": len(counts),
        "rows_max": counts[-1],
        "max_over_mean": round(counts[-1] / mean, 2),
    }


def _ladder(spark, batch_path, index_path, in_batch_bands, tag):
    """The curate_ingest stage sequence with per-stage timers — the same
    operator calls plans/curate.py::curate_ingest makes, cached at the
    same fork points, so stage walls decompose the production path."""
    import pyspark.sql.functions as F

    from doc_parser_spark.operators.chunking import chunk_turns, compose_vectors
    from doc_parser_spark.operators.dedup import (
        dedup_incremental_indexed,
        dedup_index,
        exact_dedup,
        lsh_candidate_pairs,
    )
    from doc_parser_spark.plans.curate import _extract_gate

    corpus_index = spark.read.parquet(index_path)
    transcripts = spark.read.parquet(batch_path)
    results: list[dict] = []
    print(f"[ladder {tag}] in_batch_bands={in_batch_bands}", flush=True)

    obs: dict = {}
    t_all = time.perf_counter()
    kept = _extract_gate(transcripts, obs, 0.5, "reference")
    kept = kept.cache()
    _timed("extract+gate", kept, results)

    deduped = (
        exact_dedup(kept, "uid", "extracted_text")
        .where("keep")
        .drop("keep", "doc_hash")
        .cache()
    )
    _timed("exact_dedup", deduped, results)

    pairs = lsh_candidate_pairs(
        deduped, "uid", "extracted_text", threshold=0.7,
        k=8, bands=in_batch_bands, n=3, max_bucket=1000,
    )
    losers = pairs.select(F.col("b_id").alias("uid")).distinct()
    survivors = deduped.join(losers, "uid", "left_anti").cache()
    t0 = time.perf_counter()
    n_pairs = pairs.count()
    n_surv = survivors.count()
    wall = round(time.perf_counter() - t0, 2)
    results.append(
        {"stage": "in_batch_lsh", "pairs": n_pairs, "survivors": n_surv,
         "wall_s": wall}
    )
    print(f"  in_batch_lsh: pairs={n_pairs} survivors={n_surv} "
          f"wall={wall}s", flush=True)

    cls = dedup_incremental_indexed(
        survivors.select("uid", "extracted_text"), corpus_index,
        "uid", "extracted_text", threshold=0.7,
        k=8, bands=8, n=3, hashed=True, cast_matched=None,
    )
    novels = survivors.join(
        cls.where("status = 'novel'").select("uid"), "uid", "semi"
    ).cache()
    _timed("vs_corpus_classify", novels, results)

    novel_index = dedup_index(
        novels, "uid", "extracted_text", k=8, bands=8, n=3, hashed=True
    )
    _timed("novel_index", novel_index, results)

    chunks = chunk_turns(novels, max_tokens=2000)
    vectors = compose_vectors(chunks)
    _timed("chunk+vectors", vectors, results)

    total = round(time.perf_counter() - t_all, 2)
    part = _partition_stats(kept)
    # the ladder's own caches and the operators' internal fork points
    spark.catalog.clearCache()
    return {"tag": tag, "in_batch_bands": in_batch_bands, "total_s": total,
            "stages": results, "extract_partitions": part}


def _recall_parity(spark):
    """Planted template family (TestHotBucketCap shape): same near-dup
    clusters at r=1 (bands=8) and r=2 (bands=4)?"""
    from doc_parser_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    base = (
        "quarterly compliance report for region office covering revenue "
        "expenses headcount attrition and forecast items prepared "
        "according to the standard template sections"
    )
    rows = [(i, f"{base} entity{i}") for i in range(60)]
    rows.append((1000, "a wholly unrelated document about spark streaming "
                       "watermark semantics and state stores with nothing "
                       "shared at all here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def clusters(bands):
        pairs = lsh_candidate_pairs(
            df, "doc_id", "text", threshold=0.7, k=8, bands=bands,
            max_bucket=1000,
        )
        cc = connected_components(pairs.select("a_id", "b_id"))
        lab: dict = {}
        for r in cc.collect():
            lab.setdefault(r["cluster_id"], set()).add(r["id"])
        return {frozenset(v) for v in lab.values()}, pairs.count()

    c1, p1 = clusters(8)
    c2, p2 = clusters(4)
    out = {
        "family_size": 60,
        "pairs_r1_bands8": p1,
        "pairs_r2_bands4": p2,
        "clusters_equal": c1 == c2,
        "clusters_r1": sorted(len(c) for c in c1),
        "clusters_r2": sorted(len(c) for c in c2),
    }
    print(f"[recall parity] {json.dumps(out)}", flush=True)
    return out


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/r08_ingest_ladder"
    os.makedirs(work, exist_ok=True)
    corpus_path = os.path.join(work, "corpus.parquet")
    batch_path = os.path.join(work, "batch.parquet")
    whale_batch_path = os.path.join(work, "whale_batch.parquet")
    index_path = os.path.join(work, "corpus_index.parquet")

    from doc_parser_spark.sources.transcripts import write_transcripts_parquet

    if not os.path.exists(corpus_path):
        # the r7 ladder corpus: 6000 convs × ~10 turns ≈ 176k turns
        write_transcripts_parquet(
            corpus_path, n_convs=6000, turns_mean=10, seed=42
        )
    if not os.path.exists(batch_path):
        # ~9.5k-turn all-novel batch (seed-disjoint md5-derived text)
        write_transcripts_parquet(
            batch_path, n_convs=330, turns_mean=10, seed=77
        )
    if not os.path.exists(whale_batch_path):
        # two whale conversations holding ~2/3 of a ~9.5k-turn batch
        write_transcripts_parquet(
            whale_batch_path, n_convs=350, turns_mean=10, seed=78,
            whale_fraction=0.006, whale_factor=300,
        )

    from doc_parser_spark.plans.curate import build_curation_index
    from doc_parser_spark.session import get_spark

    spark = get_spark(app_name="r08_ingest_ladder", master="local[32]",
                      shuffle_partitions=64, files_max_partition_bytes="4m")
    spark.sparkContext.setLogLevel("WARN")

    if not os.path.exists(index_path):
        t0 = time.perf_counter()
        idx = build_curation_index(
            spark, spark.read.parquet(corpus_path), hashed=True,
            k=8, bands=8, n=3,
        )
        idx.write.mode("overwrite").parquet(index_path)
        print(f"index build: {time.perf_counter() - t0:.1f}s", flush=True)

    import pyspark.sql.functions as F

    wdf = spark.read.parquet(whale_batch_path)
    whale_top = (
        wdf.groupBy("conv_id").count().orderBy(F.desc("count")).limit(2)
        .collect()
    )
    n_whale_batch = wdf.count()
    whale_share = sum(r["count"] for r in whale_top) / n_whale_batch

    out = {
        "whale_batch_turns": n_whale_batch,
        "whale_share_top2": round(whale_share, 3),
        "recall_parity": _recall_parity(spark),
        "ladders": [
            _ladder(spark, batch_path, index_path, 8, "uniform r=1"),
            _ladder(spark, batch_path, index_path, 4, "uniform r=2"),
            _ladder(spark, whale_batch_path, index_path, 8, "whale r=1"),
            _ladder(spark, whale_batch_path, index_path, 4, "whale r=2"),
        ],
    }
    path = os.path.join(work, "results.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
