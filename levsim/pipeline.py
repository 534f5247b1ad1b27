"""End-to-end ER pipeline: normalize -> block -> candidates -> prefilter ->
score -> cluster -> consensus, checkpoint-resumable per snapshot with
metrics and lineage tables (the north rule's pipeline contract).

Resume model: each stage's output snapshot id is a deterministic hash of
(stage name, stage params, input snapshot ids, levsim source) —
``tables.snapshot_id_for``.  On rerun, a stage whose snapshot already exists
(manifest committed) is skipped and its output read back; a killed run
therefore resumes at the first incomplete stage with byte-identical results
(SURVEY.md M5 gate).  The pages' id is the caller's, or else derived from
the input files' paths, sizes and mtimes (``tables.input_snapshot_id``); an
in-memory pages DataFrame gets a per-run id, so nothing resumes for it.

Lineage: one row per executed/skipped stage (run id, stage, input snapshot
ids, output snapshot id, row count, wall seconds, skipped flag).
Metrics: per-stage row counts + per-partition row histograms via
``spark_partition_id()``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blocking, candidates, clustering, consensus, normalize, scoring
from .tables import SnapshotTable, input_snapshot_id, snapshot_id_for


@dataclass
class ERConfig:
    tau: float = 0.87
    scorers: tuple = ("ratio", "jaro_winkler")
    score_col: str = "ratio"
    n_perm: int = 64
    rows_per_band: int = 4
    shingle_k: int = 3
    max_block_size: int = 200
    drop_block_size: int | None = None  # stop-key removal threshold (see candidates.py)
    consensus_method: str = "setmedian"
    # clusters larger than this use the two-level (median-of-subgroup-
    # medians) election so no task ever holds a whole megacluster; None
    # keeps the flat per-cluster election with its max_members sample cap
    hierarchical_consensus_threshold: int | None = None
    blocking_passes: tuple = ("host", "minhash", "tokensort")
    # sorted-neighborhood pass: window size (None disables).  Catches
    # near-misses whose sort keys are CLOSE but unequal — typos in the
    # leading chars — which no equality pass can pair; pairs union into
    # the candidate set with block_pass='snm'.
    snm_window: int | None = None
    snm_key_len: int = 24
    id_col: str = "url"
    text_col: str = "text"
    # cap normalized text length fed to the scorers: real crawl pages can be
    # 100 KB+, and Jaro-family kernels are superlinear in length.  Standard
    # ER practice; None disables.  Affects scoring input only (the stored
    # text column stays intact); prefix-truncation keeps ratio a lower bound
    # for near-identical long docs, and exact dedup upstream catches
    # byte-identical ones regardless.
    truncate_len: int | None = 4096

    def params(self) -> dict:
        return {
            "truncate_len": self.truncate_len,
            "tau": self.tau,
            "scorers": list(self.scorers),
            "score_col": self.score_col,
            "n_perm": self.n_perm,
            "rows_per_band": self.rows_per_band,
            "shingle_k": self.shingle_k,
            "max_block_size": self.max_block_size,
            "drop_block_size": self.drop_block_size,
            "snm_window": self.snm_window,
            "snm_key_len": self.snm_key_len,
            "consensus": self.consensus_method,
            "hier_consensus": self.hierarchical_consensus_threshold,
            "passes": list(self.blocking_passes),
        }


@dataclass
class StageResult:
    stage: str
    snapshot_id: str
    rows: int
    wall_sec: float
    skipped: bool


@dataclass
class ERRun:
    clusters: DataFrame
    representatives: DataFrame
    matched: DataFrame
    stages: List[StageResult] = field(default_factory=list)


class ERPipeline:
    def __init__(self, spark: SparkSession, workdir: str, config: Optional[ERConfig] = None):
        self.spark = spark
        self.workdir = workdir
        self.cfg = config or ERConfig()
        os.makedirs(workdir, exist_ok=True)
        self.tables = {
            name: SnapshotTable(workdir, name)
            for name in ("pages_norm", "pairs", "scores", "clusters", "representatives")
        }
        self.run_id = f"run_{int(time.time() * 1000):x}"
        self._lineage: List[dict] = []

    # ------------------------------------------------------------------
    def _stage(self, name: str, inputs: List[str], compute, table: SnapshotTable) -> tuple:
        sid = snapshot_id_for(name, self.cfg.params(), inputs)
        # tag every Spark job this stage triggers so UI/REST stage metrics
        # (shuffle bytes, spill, GC) aggregate per pipeline stage — the
        # instrumentation behind scripts/profile_pipeline.py
        try:
            self.spark.sparkContext.setJobGroup(f"er_{name}", f"er stage {name}")
        except Exception:
            pass
        t0 = time.time()
        if table.exists(sid):
            df = table.read(self.spark, sid)
            res = StageResult(name, sid, table.manifest(sid)["row_count"], 0.0, True)
        else:
            df = compute()
            table.write(df, sid, params=self.cfg.params(), parent=inputs[0] if inputs else None)
            df = table.read(self.spark, sid)  # read back: downstream plans scan parquet
            res = StageResult(name, sid, table.manifest(sid)["row_count"], time.time() - t0, False)
        self._lineage.append(
            {
                "run_id": self.run_id,
                "stage": name,
                "inputs": inputs,
                "snapshot_id": sid,
                "rows": res.rows,
                "wall_sec": round(res.wall_sec, 3),
                "skipped": res.skipped,
                "ts": time.time(),
            }
        )
        return df, res

    def _flush_lineage(self):
        path = os.path.join(self.workdir, "lineage.jsonl")
        with open(path, "a") as f:
            for row in self._lineage:
                f.write(json.dumps(row) + "\n")
        self._lineage = []

    def _write_metrics(self, df: DataFrame, stage: str):
        """Per-partition row counts -> metrics table (north rule lineage/metrics)."""
        m = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("stage", F.lit(stage))
            .withColumn("run_id", F.lit(self.run_id))
        )
        m.write.mode("append").parquet(os.path.join(self.workdir, "metrics"))

    # ------------------------------------------------------------------
    def run(self, pages: DataFrame, pages_snapshot_id: Optional[str] = None) -> ERRun:
        cfg = self.cfg
        if pages_snapshot_id is None:
            pages_snapshot_id = input_snapshot_id(pages, f"{self.run_id}_{uuid.uuid4().hex}")
        stages: List[StageResult] = []

        def compute_norm():
            out = normalize.with_normalized(pages, text_col=cfg.text_col, url_col=cfg.id_col)
            if cfg.truncate_len:
                out = out.withColumn(
                    "norm_text", F.substring("norm_text", 1, cfg.truncate_len)
                )
            return out

        norm_df, r = self._stage("normalize", [pages_snapshot_id], compute_norm,
                                 self.tables["pages_norm"])
        stages.append(r)

        def compute_pairs():
            blocks = blocking.add_block_keys(
                norm_df,
                id_col=cfg.id_col,
                text_col="norm_text",
                host_col="host",
                n_perm=cfg.n_perm,
                rows_per_band=cfg.rows_per_band,
                shingle_k=cfg.shingle_k,
                passes=cfg.blocking_passes,
            )
            extra = None
            if cfg.snm_window:
                snm_src = norm_df.select(
                    F.col(cfg.id_col).alias("doc_id"),
                    F.substring(
                        normalize.token_sort_key(F.col("norm_text")), 1, cfg.snm_key_len
                    ).alias("sk"),
                )
                extra = blocking.sorted_neighborhood_pairs(
                    snm_src, "doc_id", "sk", window=cfg.snm_window
                ).select(
                    "id_a",
                    "id_b",
                    F.lit("snm").alias("block_pass"),
                    F.concat(F.lit("s:"), F.col("gap").cast("string")).alias("block_key"),
                )
            return candidates.candidate_pairs(blocks, max_block_size=cfg.max_block_size,
                                              drop_block_size=cfg.drop_block_size,
                                              extra_pairs=extra)

        pairs_df, r = self._stage("candidates", [stages[-1].snapshot_id], compute_pairs,
                                  self.tables["pairs"])
        stages.append(r)
        if not r.skipped:
            # blocking observability: per-pass candidate counts -> lineage
            by_pass = {row.block_pass: row["count"]
                       for row in pairs_df.groupBy("block_pass").count().collect()}
            self._lineage[-1]["pairs_by_pass"] = by_pass

        def compute_scores():
            # widen the ids-only pair set BEFORE attaching texts: pair rows
            # are ~20 bytes here vs ~2 texts after the join, and a snapshot
            # read of a small parquet may come back as 1 partition
            par = self.spark.sparkContext.defaultParallelism * 2
            wide_pairs = pairs_df.repartition(par, "id_a")
            with_text = scoring.attach_texts(wide_pairs, norm_df, id_col=cfg.id_col,
                                             text_col="norm_text")
            # cascade: the cheap banded ratio kernel gates the candidates;
            # expensive secondary scorers run only on pairs >= tau
            secondary = tuple(s for s in cfg.scorers if s != "ratio")
            scored = scoring.score_pairs_cascade(with_text, tau=cfg.tau,
                                                 secondary=secondary)
            keep = [c for c in ("ratio", "jaro_winkler", "jaro", "lev_distance")
                    if c in scored.columns]
            return scored.select("id_a", "id_b", "block_pass", "block_key", *keep)

        scores_df, r = self._stage("scores", [stages[-1].snapshot_id], compute_scores,
                                   self.tables["scores"])
        stages.append(r)

        matched = scores_df.where(F.col(cfg.score_col) >= F.lit(cfg.tau))

        def compute_clusters():
            comps = clustering.connected_components(matched)
            return clustering.attach_clusters(
                norm_df.select(cfg.id_col, "norm_text"),
                comps.withColumnRenamed("doc_id", cfg.id_col),
                id_col=cfg.id_col,
            )

        clusters_df, r = self._stage("clusters", [stages[-1].snapshot_id], compute_clusters,
                                     self.tables["clusters"])
        stages.append(r)

        def compute_reps():
            if cfg.hierarchical_consensus_threshold is not None:
                return consensus.elect_representatives_hierarchical(
                    clusters_df, method=cfg.consensus_method,
                    text_col="norm_text", id_col=cfg.id_col,
                    direct_threshold=cfg.hierarchical_consensus_threshold,
                )
            return consensus.elect_representatives(
                clusters_df, method=cfg.consensus_method,
                text_col="norm_text", id_col=cfg.id_col,
            )

        reps_df, r = self._stage("consensus", [stages[-1].snapshot_id], compute_reps,
                                 self.tables["representatives"])
        stages.append(r)

        self._write_metrics(clusters_df, "clusters")
        self._flush_lineage()
        return ERRun(clusters=clusters_df, representatives=reps_df, matched=matched,
                     stages=stages)
