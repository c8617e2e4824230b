"""The benchmark's workloads, driven only through the library's public
API.

Each workload generates its inputs once per invocation from the seed
(``generate``, written as parquet), then every repetition loads them in a
fresh Spark application (``setup``), makes the timed call (``run``) and
checks the outputs (``check``). A traced repetition also runs the
trace-only checks (``verify_traced``), times the kernels on their own
(``kernels``) and reports the per-layer metrics (``layers``).

Why these two:

- ``webdedup_full``: the rebuild path. The signatures stage (Python UDF
  boundary + numpy kernel) is the largest share; candidates and the
  substring pairs then run in parallel, then the JVM exact-Jaccard verify.
  Its traced repetition adds an incremental ingest (store probe and
  stage-table writes).
- ``personlink_ecm``: the reference toolkit's chain (Index -> Compare ->
  ECM -> connected components). It bypasses ``minhash``/``suffix``
  entirely, so a dedup-kernel change must leave it unchanged, and its
  Jaro-Winkler pandas UDFs exercise the Python boundary in another layer.
"""

from __future__ import annotations

import time
from pathlib import Path
from statistics import median

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recordlinkage_spark.caching import pin
from recordlinkage_spark.classifiers import ECMClassifier
from recordlinkage_spark.comparing import Compare
from recordlinkage_spark.config import EngineConfig
from recordlinkage_spark.datagen import (person_corpus_pandas,
                                         person_truth_links,
                                         webtext_corpus_distributed)
from recordlinkage_spark.indexing import Index
from recordlinkage_spark.measures import cluster_pair_recall
from recordlinkage_spark.minhash import make_signature_udf
from recordlinkage_spark.network import ConnectedComponents
from recordlinkage_spark.pipeline import DedupPipeline
from recordlinkage_spark.stringmetrics import jaro_winkler_batch

from spans import Span, Tracer, covered

# bench.py's dedup configuration
CFG = dict(num_perm=128, lsh_bands=32, lsh_rows=4, shingle_size=3,
           span_tokens=16, winnow_window=9)
JACCARD = 0.5
STAGES = ("signatures", "candidates", "substring_pairs", "verified",
          "matches", "clusters")
STAGE_FIELDS = ("wall_s", "rows", "jobs", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb", "py_boot_s", "py_run_s",
                "py_io_mb")
LINK_SPANS = {
    "indexing.index": ("wall_s", "rows", "task_cpu_s", "shuffle_write_mb"),
    "comparing.compute": ("wall_s", "rows", "task_cpu_s", "py_boot_s",
                          "py_run_s", "py_io_mb"),
    "classifiers.ecm_fit": ("wall_s", "jobs", "iterations"),
    "classifiers.ecm_predict": ("wall_s", "rows", "jobs"),
    "network.cc": ("wall_s", "jobs", "rows", "shuffle_write_mb"),
}
# stages of the traced incremental ingest reported on their own: the
# store probe (candidates, substring pairs) and the snapshot's signing
INC_STAGES = ("signatures", "candidates", "substring_pairs")
KERNEL_REPEATS = 5


def layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    names = [f"pipeline.{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    names += ["minhash.candidates.expander_rows",
              "minhash.candidates.useful_ratio",
              "minhash.candidates.dropped_buckets",
              "minhash.verified.pass_ratio",
              "suffix.substring_pairs.dropped_buckets",
              "pipeline.substring_pairs.overlap_s",
              "pipeline.stage_write_mb",
              "incremental.run_s", "incremental.rows",
              *(f"incremental.{s}.wall_s" for s in INC_STAGES),
              "caching.pinned_mb",
              "minhash.signature_kernel.ms_per_1k_docs",
              "stringmetrics.jaro_winkler.ms_per_10k_pairs"]
    names += [f"{span}.{f}" for span, fields in LINK_SPANS.items()
              for f in fields]
    names += ["driver.jobs", "driver.stages", "driver.tasks",
              "driver.untagged_jobs", "trace.overhead_s"]
    return names


def digest(clusters: DataFrame, id_col: str) -> str:
    """Order-independent digest of the ``(id, cluster_id)`` assignment."""
    h = F.xxhash64(F.col(id_col).cast("string"),
                   F.col("cluster_id").cast("string")).cast("decimal(38,0)")
    row = clusters.agg(F.count("*"), F.sum(h)).first()
    return f"{row[0]}:{row[1]}"


def _span_value(s: Span | None, field: str) -> float:
    if s is None:
        return 0.0
    if field == "jobs":
        return len(s.jobs)
    if field == "wall_s":
        return s.self_s
    return getattr(s, field)


def _one(tracer: Tracer, name: str) -> Span | None:
    found = tracer.find(name)
    return found[0] if found else None


def _time_kernel(fn) -> float:
    """Median wall seconds of ``fn()`` over a few calls, after one
    untimed call that pays first-use costs."""
    fn()
    times = []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2 ** 20


class Check(Exception):
    """An output check failed."""


def _is_new():
    """bench.py's snapshot split: ~10% of urls by hash are "new"."""
    return F.pmod(F.xxhash64(F.col("url"), F.lit(7)), F.lit(10)) == 0


def _pipeline(tracer: Tracer, prefix: str,
              work_dir: Path | None = None) -> DedupPipeline:
    pipe = DedupPipeline(EngineConfig(**CFG),
                         work_dir=str(work_dir) if work_dir else None,
                         jaccard_threshold=JACCARD)
    if tracer.enabled:
        # one span per stage: the library has no per-stage hook, so wrap
        # the stage runner. The substring pass calls it on its own
        # thread, where the span sets that thread's job group.
        inner = pipe._stage

        def _stage(spark, name, build):
            with tracer.span(f"{prefix}.{name.removeprefix('inc_')}"):
                return inner(spark, name, build)

        pipe._stage = _stage
    return pipe


def _stage_counts(pipe: DedupPipeline) -> tuple[dict, dict]:
    """``(rows, dropped_buckets)`` per stage from the pipeline's own
    metrics list, with the ``inc_`` prefix dropped."""
    rows: dict[str, int] = {}
    dropped: dict[str, int] = {}
    for m in pipe.metrics:
        stage = m["stage"].removeprefix("inc_")
        if m.get("rows") is not None:
            rows[stage] = m["rows"]
        if m.get("dropped_buckets") is not None:
            dropped[stage] = m["dropped_buckets"]
    return rows, dropped


# --- web dedup ----------------------------------------------------------------
class WebDedup:
    """``DedupPipeline.run`` (no work_dir: stages are pinned) over a
    planted-duplicate web corpus.

    The traced repetition also ingests the corpus incrementally: a store
    is built from the 90% of docs outside bench.py's hash split, then
    ``run_incremental`` takes the other 10% with a fresh work_dir, so
    every stage is written as a parquet table. That adds the store probe
    (``minhash.pairs_against_bands``) and the stage-table writes to the
    per-layer metrics, and checks that the incremental clusters equal the
    full rebuild just timed (the invariant tests/test_incremental_flow.py
    gates)."""

    name = "webdedup_full"
    kernel_docs = 1000

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def generate(self, spark: SparkSession, seed: int, data: Path,
                 partitions: int) -> None:
        corpus, truth = webtext_corpus_distributed(
            spark, n_docs=self.n_docs, dup_fraction=0.3, seed=seed,
            doc_tokens=(150, 500), partitions=partitions)
        # cache the generator's own frame: the truth self-join is built
        # on it, and an uncached one would generate the corpus again
        corpus = corpus.cache()
        corpus.select("doc_id", "url", "text", "_cluster").write.parquet(
            str(data / "docs"))
        urls = corpus.select("url", "doc_id")
        (truth.filter(F.col("kind").isin("exact", "near"))
         .join(urls.toDF("url_1", "id_1"), "url_1")
         .join(urls.toDF("url_2", "id_2"), "url_2")
         .select("id_1", "id_2")
         .write.parquet(str(data / "truth")))
        corpus.unpersist()

    def setup(self, spark: SparkSession, data: Path, rep: Path) -> dict:
        docs = spark.read.parquet(str(data / "docs")).cache()
        return {"docs": docs, "input": docs.select("doc_id", "text"),
                "n_records": docs.count(), "rep": rep, "data": data}

    def run(self, st: dict, tracer: Tracer) -> dict:
        pipe = _pipeline(tracer, "pipeline")
        out = pipe.run(st["input"], id_col="doc_id", text_col="text")
        out["clusters"].count()  # the final output, materialized
        out["pipe"] = pipe
        return out

    def check(self, st: dict, out: dict) -> dict:
        spark = st["docs"].sparkSession
        truth = spark.read.parquet(str(st["data"] / "truth"))
        clusters = out["clusters"].withColumnRenamed("doc_id", "id")
        recall = cluster_pair_recall(truth, clusters, id_col="id")
        planted = st["docs"].select("doc_id", "_cluster")
        row = (out["matches"]
               .join(planted.toDF("id_1", "c_1"), "id_1")
               .join(planted.toDF("id_2", "c_2"), "id_2")
               .agg(F.count("*").alias("n"),
                    F.sum((F.col("c_1") == F.col("c_2")).cast("long"))
                    .alias("same"))
               .first())
        precision = row["same"] / row["n"] if row["n"] else 0.0
        return {"recall": recall, "precision": precision,
                "digest": digest(out["clusters"], "doc_id")}

    def verify_traced(self, st: dict, out: dict, tracer: Tracer) -> None:
        """Trace-run-only checks: every stage the pipeline recorded has a
        span, and the incremental ingest (whose figures are added to
        ``out``) reproduces the full rebuild."""
        names = {s.name for s in tracer.spans}
        for m in out["pipe"].metrics:
            if "pipeline." + m["stage"] not in names:
                raise Check(f"pipeline stage {m['stage']!r} ran without a span")
        docs = st["docs"]
        store = _pipeline(tracer, "bench.store").run(
            docs.filter(~_is_new()).select("doc_id", "text"),
            id_col="doc_id", text_col="text")
        inc_dir = st["rep"] / "inc"
        pipe = _pipeline(tracer, "incremental", inc_dir)
        t0 = time.perf_counter()
        inc = pipe.run_incremental(
            docs.filter(_is_new()).select("doc_id", "text"),
            store["signatures"], store["clusters"],
            id_col="doc_id", text_col="text")
        out["incremental_run_s"] = time.perf_counter() - t0
        out["incremental_pipe"] = pipe
        out["stage_write_mb"] = _dir_mb(inc_dir)
        if digest(inc["clusters"], "doc_id") != digest(out["clusters"], "doc_id"):
            raise Check("incremental clusters differ from the full rebuild")

    def layers(self, st: dict, out: dict, tracer: Tracer) -> dict:
        rows, dropped = _stage_counts(out["pipe"])
        res: dict[str, float] = {}
        for stage in STAGES:
            s = _one(tracer, f"pipeline.{stage}")
            for f in STAGE_FIELDS:
                res[f"pipeline.{stage}.{f}"] = (
                    rows.get(stage, 0) if f == "rows" else _span_value(s, f))
        cand = _one(tracer, "pipeline.candidates")
        expander = cand.expander_rows if cand else 0
        res["minhash.candidates.expander_rows"] = expander
        res["minhash.candidates.useful_ratio"] = (
            rows.get("candidates", 0) / expander if expander else 0.0)
        res["minhash.candidates.dropped_buckets"] = dropped.get("candidates", 0)
        res["minhash.verified.pass_ratio"] = (
            rows.get("verified", 0) / rows["candidates"]
            if rows.get("candidates") else 0.0)
        res["suffix.substring_pairs.dropped_buckets"] = dropped.get(
            "substring_pairs", 0)
        sub, ver = _one(tracer, "pipeline.substring_pairs"), _one(
            tracer, "pipeline.verified")
        res["pipeline.substring_pairs.overlap_s"] = (
            covered([(sub.start, sub.end)], cand.start, ver.end)
            if sub and cand and ver else 0.0)
        res["pipeline.stage_write_mb"] = out["stage_write_mb"]
        res["incremental.run_s"] = out["incremental_run_s"]
        res["incremental.rows"] = _stage_counts(
            out["incremental_pipe"])[0].get("signatures", 0)
        for stage in INC_STAGES:
            res[f"incremental.{stage}.wall_s"] = _span_value(
                _one(tracer, f"incremental.{stage}"), "wall_s")
        return res

    def kernels(self, st: dict) -> dict:
        """The signature kernel timed on its own, in the driver, on the
        workload's first ``kernel_docs`` input docs."""
        udf = make_signature_udf(
            CFG["num_perm"], CFG["lsh_bands"], CFG["lsh_rows"],
            CFG["shingle_size"], CFG["span_tokens"], CFG["winnow_window"])
        texts = (st["input"].orderBy("doc_id").limit(self.kernel_docs)
                 .toPandas()["text"])
        secs = _time_kernel(lambda: udf.func(texts))
        return {"minhash.signature_kernel.ms_per_1k_docs":
                secs * 1e3 / (len(texts) / 1e3)}


# --- person linkage -------------------------------------------------------------
class PersonLink:
    """Index -> Compare -> ECM -> connected components over FEBRL-shaped
    person records. Each call's output is pinned and counted inside its
    own span, in traced and untraced runs alike."""

    name = "personlink_ecm"
    kernel_pairs = 10_000

    def __init__(self, n_originals: int):
        self.n_originals = n_originals

    def generate(self, spark: SparkSession, seed: int, data: Path,
                 partitions: int) -> None:
        pdf = person_corpus_pandas(self.n_originals, seed=seed)
        spark.createDataFrame(pdf).repartition(partitions).write.parquet(
            str(data / "person"))

    def setup(self, spark: SparkSession, data: Path, rep: Path) -> dict:
        recs = spark.read.parquet(str(data / "person")).cache()
        return {"input": recs, "n_records": recs.count()}

    def run(self, st: dict, tracer: Tracer) -> dict:
        recs = st["input"]
        out: dict = {}
        with tracer.span("indexing.index"):
            pairs = pin(Index().block("postcode").block("date_of_birth")
                        .index(recs, id_col="rec_id"))
            out["rows.indexing.index"] = pairs.count()
        with tracer.span("comparing.compute"):
            feats = pin(
                Compare()
                .string("given_name", "given_name", "jarowinkler",
                        threshold=0.85, label="given_name")
                .string("surname", "surname", "jarowinkler",
                        threshold=0.85, label="surname")
                .string("address_1", "address_1", "levenshtein",
                        threshold=0.85, label="address_1")
                .exact("street_number", "street_number", label="street_number")
                .exact("suburb", "suburb", label="suburb")
                .exact("postcode", "postcode", label="postcode")
                .exact("state", "state", label="state")
                .exact("date_of_birth", "date_of_birth", label="date_of_birth")
                .compute(pairs, recs, id_col="rec_id"))
            out["rows.comparing.compute"] = feats.count()
        ecm = ECMClassifier()
        with tracer.span("classifiers.ecm_fit"):
            ecm.fit(feats)
        with tracer.span("classifiers.ecm_predict"):
            matches = pin(ecm.predict(feats).filter(F.col("label") == 1)
                          .select("id_1", "id_2"))
            out["rows.classifiers.ecm_predict"] = matches.count()
        with tracer.span("network.cc"):
            clusters = pin(ConnectedComponents().compute(
                matches, input_pinned=True))
            out["rows.network.cc"] = clusters.count()
        out.update(matches=matches, clusters=clusters, ecm=ecm)
        return out

    def check(self, st: dict, out: dict) -> dict:
        recs = st["input"]
        truth = person_truth_links(recs, "rec_id")
        n_truth = truth.count()
        m = out["matches"]
        row = m.agg(
            F.count("*").alias("n"),
            F.sum((F.regexp_extract("id_1", r"rec-(\d+)", 1)
                   == F.regexp_extract("id_2", r"rec-(\d+)", 1)).cast("long"))
            .alias("same")).first()
        # ECM matches and FEBRL truth links are both canonical id_1 > id_2
        found = truth.join(m, ["id_1", "id_2"]).count()
        return {"recall": found / n_truth if n_truth else 0.0,
                "precision": row["same"] / row["n"] if row["n"] else 0.0,
                "digest": digest(out["clusters"], "id")}

    def verify_traced(self, st: dict, out: dict, tracer: Tracer) -> None:
        for name in LINK_SPANS:
            if not tracer.find(name):
                raise Check(f"linkage call {name} ran without a span")

    def layers(self, st: dict, out: dict, tracer: Tracer) -> dict:
        res: dict[str, float] = {}
        for name, fields in LINK_SPANS.items():
            s = _one(tracer, name)
            for f in fields:
                if f == "rows":
                    v = out.get(f"rows.{name}", 0)
                elif f == "iterations":
                    v = out["ecm"].n_iter_
                else:
                    v = _span_value(s, f)
                res[f"{name}.{f}"] = v
        return res

    def kernels(self, st: dict) -> dict:
        """``jaro_winkler_batch`` timed on its own, in the driver, on
        given-name pairs of neighbouring records."""
        pdf = (st["input"].select("rec_id", "given_name").orderBy("rec_id")
               .toPandas())
        n = min(self.kernel_pairs, len(pdf) - 1)
        # neighbours in rec_id order: originals next to their duplicates
        s1 = pdf["given_name"].iloc[:n].reset_index(drop=True)
        s2 = pdf["given_name"].iloc[1:n + 1].reset_index(drop=True)
        secs = _time_kernel(lambda: jaro_winkler_batch(s1, s2))
        return {"stringmetrics.jaro_winkler.ms_per_10k_pairs":
                secs * 1e3 / (n / 1e4)}


def make(name: str) -> WebDedup | PersonLink:
    """Sizes: each timed call takes six to eight seconds on a 4-core host,
    so a whole invocation fits the benchmark's time budget (README.md)."""
    if name == "webdedup_full":
        return WebDedup(n_docs=5_000)
    if name == "personlink_ecm":
        return PersonLink(n_originals=8_000)
    raise ValueError(f"unknown workload {name!r}")
