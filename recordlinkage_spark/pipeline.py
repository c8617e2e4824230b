"""End-to-end dedup pipeline with checkpoint/resume + metrics + lineage.

north_rule requirements implemented here:
- every stage writes a parquet table (stand-in for an Iceberg table; the
  write code is isolated behind ``_write``/``_read`` so swapping the format
  to "iceberg" is a one-line change once the runtime has the catalog jars);
- a manifest (JSON) records stage -> path + row count + wall time; restart
  skips completed stages (resume-from-snapshot semantics);
- a metrics table records one row per stage that ran: row count, wall
  time and, on the pair-expander stages only, the dropped-bucket count;
- a per-partition lineage table records (stage, partition_id, rows).

Stage graph (``run``; ``run_incremental`` runs the same stages under an
``inc_`` prefix, pairing the new snapshot against a prior run's store,
with an optional Bloom exact-dedup ``inc_filtered`` stage before
signing):

  records --(opt. keep-latest recrawl collapse, ts_col=...)--> recrawls
          --ONE tokenize+hash Arrow pass--> signatures
          --shared pair chain (_pair_chain):
              LSH buckets --> candidates --(opt. degree cap)--> candidates_capped
                --exact-Jaccard verify--> verified
              winnowed fingerprints --> substring_pairs   (overlapped thread)
            verified ∪ substring_pairs, max(jaccard) per pair --> matches
          --ConnectedComponents--> clusters
"""

from __future__ import annotations

import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recordlinkage_spark.config import EngineConfig
from recordlinkage_spark.network import ConnectedComponents
from recordlinkage_spark.caching import pin


def _signature_frame(
    records: DataFrame, cfg: EngineConfig, id_col: str, text_col: str
) -> DataFrame:
    """The shared signature-stage builder for run() AND run_incremental():
    ONE tokenize+hash Arrow pass emits all three per-doc signatures
    (LSH bands, winnowed fingerprints, distinct shingle set) as
    ``(id, bands, fps, sh)``. Shared on purpose — the incremental path's
    bit-for-bit equivalence with the full run (tests/test_incremental_flow)
    requires the two paths to sign identically, so there is exactly one
    copy of this logic."""
    from recordlinkage_spark.minhash import make_signature_udf

    from recordlinkage_spark.textfns import spread_small_input

    df = spread_small_input(records)
    udf = make_signature_udf(
        cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows, cfg.shingle_size,
        cfg.span_tokens, cfg.winnow_window,
    )
    # null ids cannot participate in id-keyed dedup: after a recrawl
    # collapse with null-url passthrough rows (dedup_url_keep_latest),
    # a null id reaching the bucket expander crashes numpy's pair
    # canonicalization (np.maximum over None) — and a pair involving an
    # unidentifiable doc would be meaningless anyway. Such rows stay
    # visible in the 'collapsed' stage output (session-8 review fix).
    return df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("_sig")
    ).select("id", "_sig.*")


def _band_rows(sig: DataFrame) -> DataFrame:
    """``(id, band_key)`` rows from a signature frame. Band hashes are
    band-index-salted (minhash._bands_from_segments), so the bucket key is
    the hash alone; shipping only its top 32 bits as int halves the key
    bytes of the biggest shuffle, and a key collision only ADDS candidates
    the verify stage discards. One copy for the same reason as
    :func:`_signature_frame`."""
    from recordlinkage_spark.minhash import band_key_expr

    return sig.select("id", F.explode("bands").alias("_bh")).select(
        "id", band_key_expr("_bh").alias("band_key")
    )


class DedupPipeline:
    def __init__(
        self,
        config: EngineConfig | None = None,
        work_dir: str | None = None,
        jaccard_threshold: float = 0.7,
        use_substring_pass: bool = True,
        remove_spans: bool = False,
    ):
        self.config = config or EngineConfig()
        self.work_dir = Path(work_dir) if work_dir else None
        self.jaccard_threshold = jaccard_threshold
        self.use_substring_pass = use_substring_pass
        self.remove_spans = remove_spans
        self.metrics: list[dict] = []
        self._manifest: dict = {}
        # serializes manifest/lineage/metrics mutation when independent
        # stages run concurrently (_pair_chain overlaps the substring pass
        # with the candidates->verify chain, guide §2.6)
        self._lock = threading.Lock()

    # --- checkpoint plumbing ------------------------------------------------
    @property
    def _manifest_path(self) -> Path:
        return self.work_dir / "manifest.json"

    def _load_manifest(self) -> None:
        if self.work_dir and self._manifest_path.exists():
            self._manifest = json.loads(self._manifest_path.read_text())
        else:
            # A missing manifest means a FRESH run: reset any entries held
            # in memory from a previous run of this same object. Without
            # this, re-pointing work_dir at a new directory (the documented
            # one-work-dir-per-snapshot flow) would silently "resume" every
            # stage from the old run's tables and return stale outputs.
            self._manifest = {}

    def _save_manifest(self) -> None:
        if self.work_dir:
            self.work_dir.mkdir(parents=True, exist_ok=True)
            self._manifest_path.write_text(json.dumps(self._manifest, indent=2))

    # --- stage-table format seam (north_rule: Iceberg tables) -------------
    # The tested default in this runtime is parquet (no catalog jars are
    # installed). With EngineConfig.stage_format = "iceberg" the same
    # pipeline writes every stage via the DataFrameWriterV2 API to
    # <iceberg_namespace>.<stage> and pins the committed snapshot id in
    # the manifest, so resume re-reads an immutable snapshot (not a
    # directory that a concurrent writer could clobber). The swap is
    # confined to _write_stage/_read_stage.
    def _write_stage(self, spark: SparkSession, name: str, df: DataFrame):
        """Materialize one stage table; returns (reader, location, snapshot_id)."""
        if self.config.stage_format == "iceberg":
            ident = f"{self.config.iceberg_namespace}.{name}"
            df.writeTo(ident).createOrReplace()
            snap = (
                spark.sql(f"SELECT snapshot_id FROM {ident}.snapshots "
                          "ORDER BY committed_at DESC LIMIT 1")
                .collect()[0]["snapshot_id"]
            )
            return spark.read.table(ident), ident, int(snap)
        path = str(self.work_dir / name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), path, None

    def _read_stage(self, spark: SparkSession, name: str) -> DataFrame:
        entry = self._manifest[name]
        if self.config.stage_format == "iceberg":
            reader = spark.read
            if entry.get("snapshot_id") is not None:
                reader = reader.option("snapshot-id", str(entry["snapshot_id"]))
            return reader.table(entry["path"])
        return spark.read.parquet(entry["path"])

    def _stage(self, spark: SparkSession, name: str, build) -> DataFrame:
        """Run-or-resume one stage. With a work_dir, the stage materializes
        to a stage table (parquet default / Iceberg snapshot, see
        _write_stage) and restart reads it back; without one it
        localCheckpoints (test mode)."""
        if self.work_dir:
            if name in self._manifest:
                return self._read_stage(spark, name)
            t0 = time.time()
            df = build()
            out, location, snap = self._write_stage(spark, name, df)
            n = self._record(name, t0, out)
            with self._lock:
                self._manifest[name] = {
                    "path": location, "rows": n,
                    "format": self.config.stage_format, "snapshot_id": snap,
                }
                self._save_manifest()
            return out
        t0 = time.time()
        # lazy pin: _record's count() is always the next action, so it
        # materializes the checkpoint blocks AND returns the row count in
        # ONE job — eager=True ran the identical subtree as a separate
        # checkpoint job first, doubling the per-stage job count for no
        # extra safety (the count touches every partition, so the blocks
        # are fully materialized either way; accumulators still fire
        # exactly once, in the counting job).
        df = pin(build())
        self._record(name, t0, df)
        return df

    def _stage_rows(self, name: str) -> int | None:
        """Row count a completed stage already recorded (metrics row for
        a stage run this call; manifest entry for a resumed one) — lets
        downstream decisions reuse the count instead of re-running a
        count job over the stage table."""
        for m in self.metrics:
            if m["stage"] == name:
                return m["rows"]
        entry = self._manifest.get(name)
        if entry and entry.get("rows") is not None:
            return entry["rows"]
        return None

    def _record(self, stage: str, t0: float, df: DataFrame) -> int:
        """Record (metrics row, lineage table) for one stage; returns the
        stage row count. ONE scan serves both the count and the
        per-partition lineage — the previous shape (count() plus a
        lineage groupBy) read every stage table twice (session-8 review
        fix)."""
        if self.work_dir:
            spark = df.sparkSession
            parts = df.groupBy(
                F.spark_partition_id().alias("partition_id")
            ).agg(F.count("*").alias("rows")).collect()
            n = int(sum(r["rows"] for r in parts))
            lineage = spark.createDataFrame(
                [(int(r["partition_id"]), int(r["rows"])) for r in parts],
                "partition_id int, rows long",
            ).withColumn("stage", F.lit(stage))
            # locked: concurrent stages (_pair_chain overlaps the
            # substring pass) must not append to the shared _lineage path
            # at the same time — two jobs sharing one _temporary dir can
            # corrupt the commit
            with self._lock:
                lineage.write.mode("append").parquet(
                    str(self.work_dir / "_lineage"))
        else:
            n = df.count()
        self.metrics.append(
            {"stage": stage, "rows": n, "secs": round(time.time() - t0, 3)}
        )
        return n

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """The run's metrics as ONE tidy DataFrame, one row per stage that
        ran — the queryable surface for the north_rule's metrics-table
        requirement. ``dropped_buckets`` is set on the pair-expander
        stages only (null elsewhere)."""
        rows = [(m["stage"], m["rows"], m["secs"], m.get("dropped_buckets"))
                for m in self.metrics]
        return spark.createDataFrame(
            rows, "stage string, rows long, secs double, dropped_buckets long"
        )

    # --- shared stage chain ----------------------------------------------------
    def _pair_stage(self, spark: SparkSession, name: str, build) -> DataFrame:
        """Run-or-resume one pair-expander stage. ``build(acc)`` gets a
        fresh accumulator for the buckets the streaming expander drops
        over the cap; the count lands on the stage's own metrics row, so
        skew/truncation stays observable (north_rule). A resumed stage
        never ran the expander and records no row."""
        # locked: SparkContext.accumulator bumps a class-level id counter
        # unguarded, and the substring thread creates its accumulator
        # while the main thread creates the candidates one
        with self._lock:
            acc = spark.sparkContext.accumulator(0)
        out = self._stage(spark, name, lambda: build(acc))
        with self._lock:
            for m in self.metrics:
                if m["stage"] == name:
                    m["dropped_buckets"] = acc.value
        return out

    def _collapse_recrawls(
        self, spark: SparkSession, name: str, records: DataFrame,
        id_col: str, ts_col: str, canonicalize_urls: bool,
    ) -> tuple[DataFrame, DataFrame]:
        """Keep-latest recrawl collapse (``webtext.dedup_url_keep_latest``)
        as a checkpointed stage. Returns ``(collapsed, records)``: the
        survivor rows (+ ``n_crawls``), and the records every downstream
        stage keys on — the CANONICAL url under ``id_col``; the surviving
        raw url stays available in ``collapsed``."""
        from recordlinkage_spark.webtext import dedup_url_keep_latest

        collapsed = self._stage(
            spark, name,
            lambda: dedup_url_keep_latest(
                records, url_col=id_col, ts_col=ts_col,
                canonicalize=canonicalize_urls,
            ),
        )
        keep_cols = [c for c in records.columns if c != id_col]
        return collapsed, collapsed.select(
            F.col("url_key").alias(id_col), *keep_cols
        )

    def _pair_chain(
        self, spark: SparkSession, prefix: str, sh: DataFrame,
        build_candidates, build_substring,
    ) -> tuple[DataFrame, DataFrame]:
        """The pair stages :meth:`run` and :meth:`run_incremental` share:
        candidates (+ optional degree cap) -> exact-Jaccard verify against
        ``sh`` (``(id, _sh)`` shingle sets), unioned with the substring
        pairs into ``matches``. Stage names carry ``prefix``; the two
        builders take the dropped-bucket accumulator (see
        :meth:`_pair_stage`). Returns ``(candidates, matches)``."""
        from recordlinkage_spark.minhash import cap_pair_degree, exact_jaccard

        cfg = self.config
        # The substring pass depends ONLY on the signatures, so it runs
        # CONCURRENTLY with the candidates -> verify chain (guide §2.6:
        # overlap independent jobs so one job's tasks back-fill executors
        # left idle by the other's stragglers / fixed per-job overhead).
        # _stage serializes manifest/lineage/metrics mutation behind
        # self._lock; the Spark scheduler interleaves the two jobs' tasks.
        # Leaving the block joins the worker thread on every exit path.
        with ThreadPoolExecutor(max_workers=1) as pool:
            sub_future = None
            if self.use_substring_pass:
                # substring dups have LOW global Jaccard by construction,
                # so they bypass the Jaccard gate: the winnowing
                # fingerprint is a deterministic witness of a shared
                # >=span+window-1-token run.
                sub_future = pool.submit(
                    self._pair_stage, spark, prefix + "substring_pairs",
                    lambda acc: build_substring(acc).withColumn(
                        "jaccard", F.lit(None).cast("double")),
                )
            candidates = self._pair_stage(
                spark, prefix + "candidates", build_candidates)

            # Boilerplate-clique pressure valve (opt-in): cap each doc's
            # verified-pair degree before the quadratic shingle gather; the
            # cluster output is unchanged (minhash.cap_pair_degree docstring
            # has the connectivity argument + measurements). Its own
            # checkpointed stage so resume skips the double window shuffle.
            to_verify, cand_stage = candidates, prefix + "candidates"
            if cfg.max_verify_degree is not None:
                cand_stage = prefix + "candidates_capped"
                to_verify = self._stage(
                    spark, cand_stage,
                    lambda: cap_pair_degree(candidates, cfg.max_verify_degree),
                )

            # verify the LSH candidates with exact Jaccard on shingle-hash
            # sets (JVM array_intersect/union), threshold filter. The pair
            # stage already counted itself (_record / manifest), so reuse
            # that count for the broadcast decision instead of running a
            # count job over the stage table (r6).
            n_cand = self._stage_rows(cand_stage)
            if n_cand is None:  # defensive: fall back to a count job
                n_cand = to_verify.count()
            verified = self._stage(
                spark, prefix + "verified",
                lambda: exact_jaccard(
                    sh=sh, cands=to_verify, threshold=self.jaccard_threshold,
                    broadcast_pairs=n_cand <= 2_000_000,
                ),
            )
            if sub_future is None:
                return candidates, verified
            sub_pairs = sub_future.result()

        # merge the two pass outputs per pair with max(jaccard), NOT
        # dropDuplicates: a pair found by both passes has one row with
        # the verified jaccard and one with null, and dropDuplicates
        # keeps whichever arrives first — partitioning-dependent, so
        # matches.jaccard would flip between runs. max() ignores nulls
        # and is deterministic (substring-only pairs stay null).
        matches = self._stage(
            spark, prefix + "matches",
            lambda: verified.unionByName(sub_pairs)
            .groupBy("id_1", "id_2")
            .agg(F.max("jaccard").alias("jaccard")),
        )
        return candidates, matches

    # --- the pipeline ---------------------------------------------------------
    def run(
        self,
        records: DataFrame,
        id_col: str = "url",
        text_col: str = "text",
        quality_col: str | None = None,
        ts_col: str | None = None,
        canonicalize_urls: bool = True,
    ) -> dict[str, DataFrame]:
        """Returns {'pairs': ..., 'matches': ..., 'clusters': ...}; with
        ``remove_spans=True``, also ``'cleaned'`` — the records with
        duplicated long spans cut from the text (ExactSubstr keep-one,
        ``suffix.remove_duplicate_spans``, checkpointed like every other
        stage); with ``quality_col`` set, also ``'keep'`` — the per-record survivor flag
        ``(id, cluster_id, keep)`` from ``network.select_representatives``
        ordered by quality descending (best-quality doc per duplicate
        cluster instead of the arbitrary min-id default; singletons keep
        with ``cluster_id`` = own id).

        ``ts_col`` (e.g. ``"warc_ts"``) turns on the recrawl-collapse
        pre-stage every Common-Crawl pipeline runs first: records are
        collapsed to ONE row per canonical url — the newest ``ts_col``
        crawl (``webtext.dedup_url_keep_latest``, one map-side-combinable
        hash aggregate) — before any content pass, and every downstream
        stage keys on the CANONICAL url. Adds ``'collapsed'`` to the
        output (survivor rows + ``n_crawls``), checkpointed/resumable
        like every other stage. ``canonicalize_urls=False`` collapses on
        the raw url instead."""
        from recordlinkage_spark.minhash import bucket_pairs

        spark = records.sparkSession
        self._load_manifest()
        # metrics describe THIS run: without the reset, reusing one
        # pipeline object across work_dirs mixed stale stage rows into
        # metrics_df() (the manifest gets the same treatment in
        # _load_manifest; session-8 review fix)
        self.metrics = []
        cfg = self.config

        out: dict[str, DataFrame] = {}
        if ts_col is not None:
            out["collapsed"], records = self._collapse_recrawls(
                spark, "recrawls", records, id_col, ts_col, canonicalize_urls)
        id_type = records.schema[id_col].dataType.simpleString()

        # the materialized signature stage feeds every downstream pass —
        # the corpus text crosses into Python exactly once per run
        signatures = self._stage(
            spark, "signatures",
            lambda: _signature_frame(records, cfg, id_col, text_col),
        )
        candidates, matches = self._pair_chain(
            spark, "", signatures.select("id", F.col("sh").alias("_sh")),
            lambda acc: bucket_pairs(
                _band_rows(signatures), ["band_key"], cfg.max_bucket_size,
                id_type, dropped_acc=acc,
            ),
            lambda acc: bucket_pairs(
                signatures.select("id", F.explode("fps").alias("fp")),
                ["fp"], cfg.max_bucket_size, id_type, dropped_acc=acc,
            ),
        )

        clusters = self._stage(
            spark, "clusters",
            # matches is a materialized stage table -> skip CC's
            # defensive lineage pin (one less checkpoint job, r6)
            lambda: ConnectedComponents().compute(
                matches.select("id_1", "id_2"), input_pinned=True
            ).withColumnRenamed("id", id_col),
        )
        out.update({"pairs": candidates, "matches": matches,
                    "clusters": clusters,
                    # the per-doc signature stage (id, bands, fps, sh) — the
                    # store a later run_incremental pairs new snapshots against
                    "signatures": signatures})
        if self.remove_spans:
            # ExactSubstr span removal (suffix.remove_duplicate_spans):
            # rewrites the TEXT, complementing the doc-level cluster/keep
            # outputs — boilerplate runs shared across otherwise-distinct
            # docs get cut to one corpus-wide copy. Runs its own
            # position-aware winnowing pass over the records (the shared
            # signature UDF emits fingerprint VALUES only — removal needs
            # each doc's occurrence positions), so this stage costs one
            # extra Arrow pass over the corpus; it is opt-in for exactly
            # that reason.
            from recordlinkage_spark.suffix import remove_duplicate_spans

            out["cleaned"] = self._stage(
                spark, "cleaned",
                lambda: remove_duplicate_spans(
                    records, id_col, text_col,
                    span_tokens=cfg.span_tokens,
                    winnow_window=cfg.winnow_window,
                    # same skew policy knob as the pair passes: a span in
                    # more docs than a bucket would hold is boilerplate
                    max_fp_occurrences=cfg.max_bucket_size,
                ),
            )
        if quality_col is not None:
            from recordlinkage_spark.network import select_representatives

            out["keep"] = self._stage(
                spark, "keep",
                lambda: select_representatives(
                    clusters,
                    records.select(id_col, quality_col),
                    id_col=id_col,
                    order_cols=[F.desc(quality_col)],
                ).select(
                    id_col, "cluster_id",
                    F.col("is_representative").alias("keep"),
                ),
            )
        return out

    # --- incremental snapshot ingest -------------------------------------
    def run_incremental(
        self,
        new_records: DataFrame,
        prior_signatures: DataFrame,
        prior_clusters: DataFrame | None = None,
        id_col: str = "url",
        text_col: str = "text",
        ts_col: str | None = None,
        canonicalize_urls: bool = True,
        exact_dedup_against: DataFrame | None = None,
        exact_keys=None,
    ) -> dict[str, DataFrame]:
        """Dedup a NEW crawl snapshot against a prior :meth:`run`'s
        outputs WITHOUT re-pairing the corpus against itself — the
        operational flow at 10^12-doc scale, where every monthly
        snapshot is small next to the corpus.

        Inputs from the prior run: ``prior_signatures`` is its persisted
        ``signatures`` stage table (``(id, bands, fps, sh)`` — the
        manifest records its path; at scale an Iceberg table bucketed on
        the band key), and ``prior_clusters`` its ``clusters`` output.
        The corpus is touched only through them: band/fingerprint stores
        are semi-joined to the batch's touched keys
        (``minhash.pairs_against_bands`` — partition-prunable, capped),
        and the verify gather reads only candidate ids' shingle sets.
        Nothing re-signs, re-pairs, or shuffles the corpus in full.

        Tiers (each optional, each a checkpointed ``inc_*`` stage under
        ``work_dir`` — resumable like :meth:`run`; use a FRESH work_dir
        per snapshot, the base run's manifest stays untouched):

        1. ``ts_col`` — within-snapshot recrawl collapse (keep-latest).
        2. ``exact_dedup_against`` (a key frame, e.g.
           ``corpus.select("text")``) — Bloom-filter exact dedup of the
           batch against the corpus (``bloom.dedup_against``; keys
           default to ``[text_col]``, override with ``exact_keys``).
        3. LSH + winnowing candidates of the survivors: within-batch
           plus batch-vs-store, exact-Jaccard verify at the run's
           threshold, substring pairs union — same semantics as
           :meth:`run` restricted to pairs touching a new doc.
        4. Clusters: connected components over prior cluster
           assignments (as edges) ∪ new matches.

        Contract — supersede and merge-only: a new id already present in
        ``prior_signatures`` is an UPDATED document; its stored
        signature is anti-joined out so stale content never pairs
        (prior cluster edges still hold its old links — incremental
        clustering merges but never splits; re-run :meth:`run` to
        re-split after deletions/updates). With disjoint id spaces and
        no caps hit, ``clusters`` equals the full-batch :meth:`run` over
        old ∪ new bit-for-bit (gated in tests/test_incremental_flow.py).

        Returns ``{'pairs', 'matches', 'clusters'}`` plus
        ``'collapsed'`` / ``'new_unique'`` when tiers 1 / 2 ran.
        """
        from recordlinkage_spark.minhash import pairs_against_bands

        spark = new_records.sparkSession
        self._load_manifest()
        self.metrics = []  # per-run surface, same as run()
        cfg = self.config

        out: dict[str, DataFrame] = {}
        records = new_records
        if ts_col is not None:
            out["collapsed"], records = self._collapse_recrawls(
                spark, "inc_recrawls", records, id_col, ts_col,
                canonicalize_urls)
        if exact_dedup_against is not None:
            from recordlinkage_spark.bloom import dedup_against

            keys = list(exact_keys) if exact_keys else [text_col]
            out["new_unique"] = records = self._stage(
                spark, "inc_filtered",
                lambda: dedup_against(records, exact_dedup_against, keys),
            )
        id_type = records.schema[id_col].dataType.simpleString()

        signatures = self._stage(
            spark, "inc_signatures",
            lambda: _signature_frame(records, cfg, id_col, text_col),
        )
        # supersede: an id present in both snapshots is an updated doc —
        # its STORED signature must not pair its stale content
        store_sigs = prior_signatures.join(
            signatures.select("id"), "id", "left_anti"
        )

        def fps(sig: DataFrame) -> DataFrame:
            return sig.select("id", F.explode("fps").alias("band_key"))

        # same chain as run(), restricted to pairs touching a new doc: both
        # passes and the verify gather depend only on (signatures, store_sigs)
        candidates, matches = self._pair_chain(
            spark, "inc_",
            signatures.select("id", F.col("sh").alias("_sh")).unionByName(
                store_sigs.select("id", F.col("sh").alias("_sh"))),
            lambda acc: pairs_against_bands(
                _band_rows(signatures), _band_rows(store_sigs), id_type,
                cfg.max_bucket_size, dropped_acc=acc,
            ),
            lambda acc: pairs_against_bands(
                fps(signatures), fps(store_sigs), id_type,
                cfg.max_bucket_size, dropped_acc=acc,
            ),
        )

        def build_clusters() -> DataFrame:
            edges = matches.select("id_1", "id_2")
            if prior_clusters is not None:
                prior_edges = prior_clusters.select(
                    F.col(id_col).alias("id_1"),
                    F.col("cluster_id").alias("id_2"),
                ).filter(F.col("id_1") != F.col("id_2"))
                edges = edges.unionByName(prior_edges)
            return ConnectedComponents().compute(edges).withColumnRenamed(
                "id", id_col)

        clusters = self._stage(spark, "inc_clusters", build_clusters)
        out.update({"pairs": candidates, "matches": matches,
                    "clusters": clusters})
        return out
