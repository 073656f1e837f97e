"""The benchmark's workloads: seeded input generation, the timed user call,
output checks and the traced per-layer probes.

Every workload drives the package through its public calls only. The
program receives nothing but the generated inputs (a parquet file or a
directory of files), written under the run's work directory.
"""

from __future__ import annotations

import glob
import hashlib
import multiprocessing
import os
import random
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from doc_parser_spark.functions.asciidoc_extract import extract_asciidoc
from doc_parser_spark.functions.csv_extract import extract_csv
from doc_parser_spark.functions.docx_extract import extract_docx
from doc_parser_spark.functions.html_extract import extract_html
from doc_parser_spark.functions.hwpx_extract import extract_hwpx
from doc_parser_spark.functions.md_extract import extract_md
from doc_parser_spark.functions.pdfish_extract import extract_pdfish
from doc_parser_spark.functions.plain_extract import extract_plain
from doc_parser_spark.functions.pptx_extract import extract_pptx
from doc_parser_spark.functions.xlsx_extract import extract_xlsx
from doc_parser_spark.operators.chunking import chunk_turns, compose_vectors
from doc_parser_spark.operators.dedup import (
    exact_dedup,
    lsh_buckets,
    lsh_candidate_pairs,
)
from doc_parser_spark.operators.extract import extract_turns, make_extract_udf
from doc_parser_spark.plans.curate import run_curation
from doc_parser_spark.plans.pipeline import (
    read_extracted,
    read_metrics,
    run_extraction_job,
)
from doc_parser_spark.sources.files import convert_directory, read_documents_dir
from doc_parser_spark.sources.sniff import sniff_series
from doc_parser_spark.sources.synth_office import (
    build_docx,
    build_hwpx,
    build_pptx,
    build_xlsx,
)
from doc_parser_spark.sources.synth_pdf import build_pdf
from doc_parser_spark.sources.transcripts import (
    generate_transcripts,
    payload_for,
)

from spec import KERNEL_TYPES, OUTPUT_TYPES
from tracing import StageSet, stages_of

# run_curation's parameters, used by its call and by the traced probes of
# the operators it composes
CURATE = {"min_quality": 0.5, "near_dup_jaccard": 0.7, "max_tokens": 2000,
          "boilerplate_mode": "reference", "lsh_max_bucket": 1000}
# run_curation's LSH shape, which it does not take as parameters; the
# probes' stage counts are checked against its stats, so a change to its
# plan fails the traced run instead of silently measuring something else
LSH = {"k": 8, "bands": 8}

SAMPLE_PER_TYPE = 100
NPROC = len(os.sched_getaffinity(0))


class CheckFailed(Exception):
    """An output of the program differs from what the benchmark expects."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class Inputs:
    docs: int  # documents handed to the program per iteration
    path: str  # parquet file or directory
    fingerprint: str  # identical for identical inputs
    frame: pd.DataFrame | None = None  # transcript workloads
    files: list = field(default_factory=list)  # (name, kind, bytes)


def _turn_digest(conv, turn, text) -> str:
    """tests/test_regression_golden.py's corpus digest over rows already
    ordered by (conv_id, turn_idx)."""
    h = [
        hashlib.sha256(
            f"{c}|{t}|{x if x is not None else '<null>'}".encode()
        ).hexdigest()[:16]
        for c, t, x in zip(conv, turn, text)
    ]
    return hashlib.sha256("".join(h).encode()).hexdigest()


def _frame_fingerprint(pdf: pd.DataFrame) -> str:
    return hashlib.sha256(
        pd.util.hash_pandas_object(pdf, index=False).values.tobytes()
    ).hexdigest()


def _write_turns(pdf: pd.DataFrame, path: str) -> None:
    # the write options of sources.transcripts.write_transcripts_parquet
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True, row_group_size=2048)


def _extract_rows(cols: pd.DataFrame) -> pd.DataFrame:
    fn = make_extract_udf()
    out = pd.concat(
        list(fn(cols.iloc[i:i + 1024] for i in range(0, len(cols), 1024)))
    )
    return out[["conv_id", "turn_idx", "extracted_text", "parse_status",
                "content_type"]]


def _driver_extract(pdf: pd.DataFrame, parallel: bool = False) -> pd.DataFrame:
    """The extraction kernel applied on the driver, without Spark. The
    kernel is per row, so ``parallel`` splits the rows over one forked
    process per core; it runs after timing, while Spark is idle."""
    cols = pdf[["conv_id", "turn_idx", "text"]]
    if not parallel:
        out = _extract_rows(cols)
    else:
        step = -(-len(cols) // (4 * NPROC))
        chunks = [cols.iloc[i:i + step] for i in range(0, len(cols), step)]
        with ProcessPoolExecutor(
            NPROC, mp_context=multiprocessing.get_context("fork")
        ) as pool:
            out = pd.concat(list(pool.map(_extract_rows, chunks)))
    return out.sort_values(["conv_id", "turn_idx"], kind="stable")


def _direct_kernels(samples: dict[str, list]) -> dict[str, float]:
    """functions.<type>_us_per_doc from single-thread calls; 0 marks a
    type absent from the workload's inputs."""
    calls = {
        "html": lambda t: extract_html(t, "reference"),
        "plain": extract_plain, "markdown": extract_md, "csv": extract_csv,
        "asciidoc": extract_asciidoc, "pdfish": extract_pdfish,
        "pdf_real": extract_pdfish,
    }
    office = {"docx": extract_docx, "xlsx": extract_xlsx,
              "pptx": extract_pptx, "hwpx": extract_hwpx}
    out = {}
    for kind in KERNEL_TYPES:
        docs = samples.get(kind, [])[:SAMPLE_PER_TYPE]
        if not docs:
            out[f"functions.{kind}_us_per_doc"] = 0.0
            continue
        t = time.perf_counter()
        for d in docs:
            if kind == "office":
                office[d[0]](d[1])
            else:
                calls[kind](d)
        out[f"functions.{kind}_us_per_doc"] = (
            (time.perf_counter() - t) * 1e6 / len(docs)
        )
    return out


def _kernel_split(types, proc_us) -> dict[str, float]:
    per = {t: 0.0 for t in OUTPUT_TYPES}
    for t, us in zip(types, proc_us):
        if t in per:
            per[t] += us / 1e6
    out = {f"functions.kernel_s.{t}": v for t, v in per.items()}
    out["functions.kernel_s"] = float(sum(proc_us)) / 1e6
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


class Workload:
    name = ""
    call_span = ""
    sizes: dict = {}
    # the first of the two warm-up iterations runs over a smaller input of
    # the same kind, so the cold start (JIT, Python workers) costs less
    warm_sizes: dict = {}

    def __init__(self, scale: str):
        self.size = self.sizes[scale]
        self.warm_size = self.warm_sizes[scale]

    def check_readers(self, spark, inp: Inputs, out: str) -> None:
        """Read one iteration's output back through the package's readers;
        run after timing, when the JVM is warm."""


# ---------------------------------------------------------------------------
# transcript extraction job
# ---------------------------------------------------------------------------
class JobMixed(Workload):
    name = "job_mixed"
    call_span = "plans.pipeline.run_extraction_job"
    sizes = {"full": {"n_convs": 900, "turns_mean": 10, "whale_fraction": 0.02,
                      "whale_factor": 100},
             "tiny": {"n_convs": 12, "turns_mean": 4, "whale_fraction": 0.1,
                      "whale_factor": 10}}
    warm_sizes = {"full": {**sizes["full"], "n_convs": 200},
                  "tiny": sizes["tiny"]}

    @staticmethod
    def frame(seed: int, size: dict) -> pd.DataFrame:
        return generate_transcripts(
            size["n_convs"], size["turns_mean"], seed,
            whale_fraction=size["whale_fraction"],
            whale_factor=size["whale_factor"],
        )

    def generate(self, seed: int, work: str, size: dict) -> Inputs:
        pdf = self.frame(seed, size)
        path = os.path.join(work, "turns.parquet")
        _write_turns(pdf, path)
        return Inputs(len(pdf), path, _frame_fingerprint(pdf), frame=pdf)

    def call(self, spark, inp: Inputs, out: str) -> dict:
        return run_extraction_job(spark, spark.read.parquet(inp.path), out)

    def check_readers(self, spark, inp: Inputs, out: str) -> None:
        n, keys = read_extracted(spark, out).agg(
            F.count(F.lit(1)), F.count_distinct("conv_id", "turn_idx")
        ).first()
        docs = read_metrics(spark, out).agg(F.sum("docs_parsed")).first()[0]
        require(n == inp.docs, f"read_extracted has {n} rows, input {inp.docs}")
        require(keys == n, f"(conv_id, turn_idx) not unique: {keys} of {n}")
        require(docs == n, f"read_metrics docs sum {docs} != rows {n}")

    def check(self, spark, inp: Inputs, out: str, res: dict) -> dict:
        require(res["rows"] == inp.docs, f"job reported {res['rows']} rows "
                f"for {inp.docs} turns")
        parts = []
        for f in sorted(glob.glob(os.path.join(out, "extracted", "*", "*.parquet"))):
            t = pq.read_table(f, columns=["conv_id", "turn_idx", "extracted_text"])
            keys_ = list(zip(t.column("conv_id").to_pylist(),
                             t.column("turn_idx").to_pylist()))
            require(keys_ == sorted(keys_), f"{f} is not sorted by (conv_id, turn_idx)")
            parts.append(t.to_pandas())
        rows = pd.concat(parts).sort_values(["conv_id", "turn_idx"])
        require(len(rows) == inp.docs, f"{len(rows)} rows written for {inp.docs} turns")
        require(not rows.duplicated(["conv_id", "turn_idx"]).any(),
                "(conv_id, turn_idx) not unique in the written files")
        m = pq.read_table(os.path.join(out, "_metrics"),
                          columns=["docs_parsed", "parse_failures"]).to_pandas()
        require(m["docs_parsed"].sum() == len(rows),
                "metrics docs do not sum to the rows written")
        return {
            "failed": int(m["parse_failures"].sum()),
            "digest": _turn_digest(rows["conv_id"], rows["turn_idx"],
                                   rows["extracted_text"]),
        }

    def check_final(self, spark, inp: Inputs, checks: list[dict]) -> None:
        want = _driver_extract(inp.frame, parallel=True)
        digest = _turn_digest(want["conv_id"], want["turn_idx"],
                              want["extracted_text"])
        failures = int((want["parse_status"] == "failure").sum())
        for c in checks:
            require(c["digest"] == digest, "per-turn digest differs from the "
                    "driver-side extraction of the same inputs")
            require(c["failed"] == failures, "parse failure count differs "
                    "from the driver-side extraction")

    def layers(self, spark, inp: Inputs, tracer, out: str, span) -> dict:
        m = {}
        files = glob.glob(os.path.join(out, "extracted", "*", "*.parquet"))
        m["pipeline.files_written"] = len(files)
        m["pipeline.bytes_written"] = sum(os.path.getsize(f) for f in files)
        t = pq.ParquetDataset(files).read(columns=["content_type", "proc_us"])
        m.update(_kernel_split(t.column("content_type").to_pylist(),
                               t.column("proc_us").to_pylist()))

        with tracer.span("sources.scan") as s_scan:
            _noop(spark.read.parquet(inp.path))
        with tracer.span("sources.sniff") as s_sniff:
            types = sniff_series(inp.frame["text"])
        with tracer.span("operators.extract.extract_turns") as s_ext:
            _noop(extract_turns(spark.read.parquet(inp.path),
                                keep_metrics_cols=True))
        samples: dict[str, list] = {}
        for ct, text in zip(types, inp.frame["text"]):
            samples.setdefault("pdfish" if ct == "pdf" else ct, []).append(text)
        with tracer.span("functions"):
            m.update(_direct_kernels(samples))

        stages = tracer.stages()
        job = stages_of(stages, span.name)
        ext = stages_of(stages, s_ext.name)
        writes = [s for s in job.stages if any(t["out_bytes"] for t in s["tasks"])]
        data_write = max(writes, key=lambda s: sum(t["out_bytes"] for t in s["tasks"]))
        m["sources.scan_s"] = s_scan.seconds
        m["sources.scan_tasks"] = len(stages_of(stages, s_scan.name).tasks)
        m["sources.sniff_us_per_doc"] = s_sniff.seconds * 1e6 / inp.docs
        m["extract.noop_s"] = s_ext.seconds
        m["extract.route_shuffle_bytes"] = ext.total("shuffle_write")
        m["extract.python_overhead_s"] = (
            ext.where_scope("MapInPandas").total("run_ms") / 1e3
            - m["functions.kernel_s"]
        )
        m["extract.task_skew"] = ext.where_scope("MapInPandas").skew()
        m["pipeline.post_extract_s"] = span.seconds - s_ext.seconds
        m["pipeline.bucket_shuffle_bytes"] = (
            job.where_scope("MapInPandas").total("shuffle_write")
        )
        m["pipeline.write_task_skew"] = StageSet([data_write]).skew()
        m["pipeline.commit_s"] = span.rec["end"] - data_write["complete"] / 1e3
        m["pipeline.spill_bytes"] = job.total("spill")
        return m


# ---------------------------------------------------------------------------
# directory conversion feeding curation
# ---------------------------------------------------------------------------
def _words(rng: random.Random, n: int) -> str:
    vocab = ("report ledger invoice quarterly summary annex clause schedule "
             "revenue margin forecast audit table figure section policy").split()
    return " ".join(rng.choice(vocab) for _ in range(n))


def _make_file(rng: random.Random, i: int) -> tuple[str, str, bytes]:
    r = rng.random()
    if r < 0.25:
        pages = [
            [(72, 700 - 20 * k, f"{_words(rng, 6)} {i}")
             for k in range(rng.randint(3, 12))]
            for _ in range(rng.randint(1, 4))
        ]
        return f"d{i:05d}.pdf", "pdf", build_pdf(pages)
    if r < 0.35:
        return (f"d{i:05d}.docx", "docx",
                build_docx(_words(rng, 3), [_words(rng, 12) for _ in range(rng.randint(2, 8))],
                           [_words(rng, 3) for _ in range(3)]))
    if r < 0.45:
        rows = [[_words(rng, 1) for _ in range(4)] for _ in range(rng.randint(3, 20))]
        return f"d{i:05d}.xlsx", "xlsx", build_xlsx("Sheet1", rows)
    if r < 0.55:
        return (f"d{i:05d}.pptx", "pptx",
                build_pptx(_words(rng, 3), [_words(rng, 5) for _ in range(4)]))
    if r < 0.65:
        return f"d{i:05d}.hwpx", "hwpx", build_hwpx(i, _words(rng, 20))
    text = payload_for(rng)
    while text.startswith("%PDF") or not text.strip():
        # %PDF-SIM dumps are transcript-only; in a directory they route to
        # the real PDF decoder and fail, and blank files are skipped
        text = payload_for(rng)
    return f"d{i:05d}.txt", "text", text.encode()


def _xor_digest(*cols):
    """Order-independent digest of a frame's rows, computed in the JVM."""
    return F.bit_xor(F.xxhash64(F.to_json(F.struct(*cols))))


def _as_turns(converted):
    """Converted documents as transcript turns: one turn per file."""
    return converted.select(
        F.col("path").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("extracted_text").alias("text"),
    )


class IngestCurate(Workload):
    name = "ingest_curate"
    call_span = "plans.curate.run_curation"
    sizes = {"full": {"n_files": 80}, "tiny": {"n_files": 12}}
    warm_sizes = {"full": {"n_files": 20}, "tiny": {"n_files": 12}}
    _CONVERTED = ("path", "content_type", "parse_status", "extracted_text")

    def generate(self, seed: int, work: str, size: dict) -> Inputs:
        rng = random.Random(seed)
        d = os.path.join(work, "docs")
        os.makedirs(d)
        files, h = [], hashlib.sha256()
        for i in range(size["n_files"]):
            name, kind, payload = _make_file(rng, i)
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(payload)
            files.append((name, kind, payload))
            h.update(name.encode() + payload)
        return Inputs(len(files), d, h.hexdigest(), files=files)

    def call(self, spark, inp: Inputs, out: str) -> dict:
        conv_obs = Observation("perfbench_convert")
        converted = convert_directory(spark, inp.path).observe(
            conv_obs, F.count(F.lit(1)).alias("n"),
            F.sum((F.col("parse_status") == "failure").cast("long"))
            .alias("failed"),
            _xor_digest(*self._CONVERTED).alias("digest"),
        )
        vectors, stats = run_curation(spark, _as_turns(converted), **CURATE)
        obs = Observation("perfbench_curate")
        _noop(vectors.observe(obs, _xor_digest(*vectors.columns).alias("d")))
        res = dict(stats.items())
        res["convert"] = dict(conv_obs.get)
        res["digest"] = obs.get["d"]
        res["cache_bytes"] = _cache_bytes(spark)
        stats.unpersist()
        return res

    def check(self, spark, inp: Inputs, out: str, res: dict) -> dict:
        conv = res["convert"]
        require(conv["n"] == inp.docs, f"{conv['n']} rows for {inp.docs} files")
        chain = [res[k] for k in ("extracted", "quality_kept", "exact_unique",
                                  "near_dup_unique")]
        require(chain[0] == inp.docs, f"curation extracted {chain[0]} of "
                f"{inp.docs} documents")
        require(chain == sorted(chain, reverse=True),
                f"curation stage counts increase: {chain}")
        return {"failed": int(conv["failed"]),
                "digest": (conv["digest"], res["digest"], tuple(chain),
                           res["vectors"])}

    def collect(self, spark, inp: Inputs) -> pd.DataFrame:
        return convert_directory(spark, inp.path).select(
            *self._CONVERTED, "_proc_us").toPandas()

    def expected(self, inp: Inputs) -> pd.DataFrame:
        """The converted rows computed on the driver, without Spark: the
        per-format functions for binary files, the transcript extraction
        kernel for text files."""
        binary = {"docx": extract_docx, "xlsx": extract_xlsx,
                  "pptx": extract_pptx, "hwpx": extract_hwpx,
                  "pdf": extract_pdfish}
        texts = [(n, p.decode()) for n, k, p in inp.files if k == "text"]
        want_text = _driver_extract(pd.DataFrame({
            "conv_id": [n for n, _ in texts], "turn_idx": 0,
            "text": [t for _, t in texts],
        })).set_index("conv_id")
        rows = []
        for name, kind, payload in inp.files:
            if kind == "text":
                w = want_text.loc[name]
                row = (w["content_type"], w["parse_status"], w["extracted_text"])
            else:
                row = (kind, "success", binary[kind](payload)[0])
            # binaryFile's path column: a file: URI of the absolute path
            rows.append((f"file:{os.path.abspath(inp.path)}/{name}",) + row)
        return pd.DataFrame(rows, columns=list(self._CONVERTED))

    def check_final(self, spark, inp: Inputs, checks: list[dict]) -> None:
        require(len({c["digest"] for c in checks}) == 1,
                "output differs between iterations")
        want = self.expected(inp)
        digest = spark.createDataFrame(
            want, schema=", ".join(f"{c} string" for c in self._CONVERTED)
        ).agg(_xor_digest(*self._CONVERTED)).first()[0]
        if checks[0]["digest"][0] == digest:
            return
        got = self.collect(spark, inp).set_index("path")
        bad = [p for p, *row in want.itertuples(index=False)
               if p not in got.index
               or tuple(got.loc[p, list(self._CONVERTED[1:])]) != tuple(row)]
        raise CheckFailed(f"converted rows differ from the driver-side "
                          f"extraction of the same files: {bad[:5]}")

    def layers(self, spark, inp: Inputs, tracer, out: str, span) -> dict:
        m = {"curate.cache_bytes": span.result["cache_bytes"]}
        got = self.collect(spark, inp)
        m.update(_kernel_split(got["content_type"], got["_proc_us"]))
        with tracer.span("sources.scan") as s_scan:
            _noop(read_documents_dir(spark, inp.path))
        texts = pd.Series([p.decode() for _, k, p in inp.files if k == "text"])
        with tracer.span("sources.sniff") as s_sniff:
            types = sniff_series(texts)
        # each layer over the cached output of the one before, so each
        # span holds one layer's work
        with tracer.span("sources.files.convert_directory") as s_conv:
            turns = _as_turns(convert_directory(spark, inp.path)).cache()
            turns.count()
        with tracer.span("curate.extract_gate") as s_gate:
            # run_curation's quality gate over extract_turns
            kept = extract_turns(
                turns, boilerplate_mode=CURATE["boilerplate_mode"]
            ).withColumn(
                "uid", F.concat_ws("#", "conv_id",
                                   F.col("turn_idx").cast("string"))
            ).where(
                F.col("parse_status").isin("success", "partial_success")
                & (F.col("n_char") > 0)
                & (F.coalesce(F.col("parse_score"), F.lit(0.0))
                   >= CURATE["min_quality"])
            ).cache()
            counts = {"quality_kept": kept.count()}
        with tracer.span("curate.exact_dedup"):
            deduped = exact_dedup(kept, "uid", "extracted_text").where(
                "keep").drop("keep", "doc_hash").cache()
            counts["exact_unique"] = deduped.count()
        with tracer.span("curate.lsh_pairs") as s_lsh:
            pairs = lsh_candidate_pairs(
                deduped, "uid", "extracted_text",
                threshold=CURATE["near_dup_jaccard"],
                max_bucket=CURATE["lsh_max_bucket"], **LSH,
            ).cache()
            verified = pairs.count()
        with tracer.span("curate.chunk_vectors") as s_chunk:
            survivors = deduped.join(
                pairs.select(F.col("b_id").alias("uid")).distinct(), "uid",
                "left_anti")
            obs = Observation("perfbench_probe")
            _noop(compose_vectors(chunk_turns(
                survivors, max_tokens=CURATE["max_tokens"]
            )).observe(obs, F.count(F.lit(1)).alias("vectors")))
        counts["vectors"] = obs.get["vectors"]
        counts["near_dup_unique"] = survivors.count()
        for k, v in counts.items():
            require(v == span.result[k], f"curation probe {k} = {v}, but "
                    f"run_curation reported {span.result[k]}: the probes no "
                    "longer follow its plan")
        # candidate pairs the LSH join evaluates: all pairs per (band,
        # bucket), or a star of m-1 once a bucket passes the cap
        cap = CURATE["lsh_max_bucket"]
        m_ = F.col("count")
        candidates = lsh_buckets(deduped, "uid", "extracted_text", **LSH
                                 ).groupBy("band", "bucket").count() \
            .select(F.sum(F.when(m_ > cap, m_ - 1)
                          .otherwise(m_ * (m_ - 1) / 2))).first()[0] or 0
        for d in (pairs, deduped, kept, turns):
            d.unpersist()

        samples: dict[str, list] = {}
        for ct, text in zip(types, texts):
            samples.setdefault(ct, []).append(text)
        for _, kind, payload in inp.files:
            if kind == "pdf":
                samples.setdefault("pdf_real", []).append(payload)
            elif kind != "text":
                samples.setdefault("office", []).append((kind, payload))
        with tracer.span("functions"):
            m.update(_direct_kernels(samples))

        stages = tracer.stages()
        conv = stages_of(stages, s_conv.name).where_scope("MapInPandas")
        m["sources.scan_s"] = s_scan.seconds
        m["sources.scan_tasks"] = len(stages_of(stages, s_scan.name).tasks)
        m["sources.sniff_us_per_doc"] = s_sniff.seconds * 1e6 / max(len(texts), 1)
        m["files.tasks"] = len(conv.tasks)
        m["files.task_ms_median"] = conv.median_task_ms()
        m["files.kernel_s"] = m["functions.kernel_s"]
        m["files.overhead_s"] = conv.total("run_ms") / 1e3 - m["files.kernel_s"]
        m["curate.extract_gate_s"] = s_gate.seconds
        m["curate.lsh_pairs_s"] = s_lsh.seconds
        m["curate.chunk_vectors_s"] = s_chunk.seconds
        m["curate.candidate_pairs"] = int(candidates)
        m["curate.verified_pairs"] = int(verified)
        m["curate.verified_ratio"] = verified / candidates if candidates else 0.0
        return m


WORKLOADS = {w.name: w for w in (JobMixed, IngestCurate)}
