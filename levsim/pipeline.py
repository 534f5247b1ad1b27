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

Each executed stage is its compute plus one write job: the row count and
the per-file counts come from the snapshot manifest (parquet footers, see
``tables``), and the next stage reads the snapshot with its stored schema,
so no bookkeeping job runs.  Every job a stage runs is tagged with the job
group ``er_<stage>``; ``run`` restores the caller's job group on return.

Lineage (``lineage.jsonl``): one row per executed/skipped stage (run id,
stage, input snapshot ids, output snapshot id, row count from the manifest,
wall seconds, skipped flag); the candidates row adds ``pairs_by_pass``,
observed on the candidates write (``DataFrame.observe``).
Metrics (``metrics/``, parquet): one row per (stage, write task) of every
executed stage, columns (partition_id, rows, stage, run_id), written from
the manifest's per-file counts in the driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import blocking, candidates, clustering, consensus, normalize, prefilter, scoring
from .tables import SnapshotTable, input_snapshot_id, snapshot_id_for


# the local properties setJobGroup sets, restored when run() returns
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class ERConfig:
    tau: float = scoring.TAU
    max_block_size: int = candidates.MAX_BLOCK_SIZE
    consensus_method: str = "setmedian"
    # sorted-neighborhood pass: window size (None disables).  Catches
    # near-misses whose sort keys are CLOSE but unequal — typos in the
    # leading chars — which no equality pass can pair; pairs union into
    # the candidate set with block_pass='snm'.
    snm_window: int | None = None

    def params(self) -> dict:
        return {
            "tau": self.tau,
            "max_block_size": self.max_block_size,
            "snm_window": self.snm_window,
            "consensus": self.consensus_method,
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
        self.spark.sparkContext.setJobGroup(f"er_{name}", f"er stage {name}")
        t0 = time.time()
        skipped = table.exists(sid)
        if skipped:
            rows = table.manifest(sid)["row_count"]
        else:
            info = table.write(compute(), sid, params=self.cfg.params(),
                               parent=inputs[0] if inputs else None)
            rows = info.row_count
            self._write_metrics(name, table.manifest(sid))
        # downstream plans scan the snapshot (stored schema: no job)
        df = table.read(self.spark, sid)
        res = StageResult(name, sid, rows, 0.0 if skipped else time.time() - t0, skipped)
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

    def _write_metrics(self, stage: str, manifest: dict):
        """Rows per write task of a stage -> metrics table, from the
        manifest's per-file counts."""
        rows: dict = {}
        for f in manifest["files"]:
            rows[f["task"]] = rows.get(f["task"], 0) + f["rows"]
        out = os.path.join(self.workdir, "metrics")
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table({
            "partition_id": pa.array(list(rows), pa.int32()),
            "rows": pa.array(list(rows.values()), pa.int64()),
            "stage": pa.array([stage] * len(rows), pa.string()),
            "run_id": pa.array([self.run_id] * len(rows), pa.string()),
        }), os.path.join(out, f"{self.run_id}-{stage}.parquet"))

    # ------------------------------------------------------------------
    def run(self, pages: DataFrame, pages_snapshot_id: Optional[str] = None) -> ERRun:
        sc = self.spark.sparkContext
        saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
        try:
            return self._run(pages, pages_snapshot_id)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def _run(self, pages: DataFrame, pages_snapshot_id: Optional[str]) -> ERRun:
        cfg = self.cfg
        if pages_snapshot_id is None:
            pages_snapshot_id = input_snapshot_id(pages, f"{self.run_id}_{uuid.uuid4().hex}")
        stages: List[StageResult] = []

        norm_df, r = self._stage("normalize", [pages_snapshot_id],
                                 lambda: normalize.with_normalized(pages),
                                 self.tables["pages_norm"])
        stages.append(r)

        by_pass = Observation("pairs_by_pass")

        def compute_pairs():
            # the catch-up's keys (streaming.run_incremental_pairs)
            blocks = blocking.add_block_keys(norm_df)
            extra = None
            if cfg.snm_window:
                snm_src = norm_df.select(
                    F.col("url").alias("doc_id"),
                    F.substring(normalize.token_sort_key(F.col("norm_text")), 1, 24).alias("sk"),
                )
                extra = blocking.sorted_neighborhood_pairs(
                    snm_src, "doc_id", "sk", window=cfg.snm_window
                ).select(
                    "id_a",
                    "id_b",
                    F.lit("snm").alias("block_pass"),
                    F.concat(F.lit("s:"), F.col("gap").cast("string")).alias("block_key"),
                )
            pairs = candidates.candidate_pairs(blocks, max_block_size=cfg.max_block_size,
                                               extra_pairs=extra)
            # blocking observability: per-pass candidate counts, observed
            # on the snapshot write
            passes = ["host", "minhash", "tokensort", *(["snm"] if cfg.snm_window else [])]
            return pairs.observe(by_pass, *[
                F.count_if(F.col("block_pass") == p).alias(p) for p in passes])

        pairs_df, r = self._stage("candidates", [stages[-1].snapshot_id], compute_pairs,
                                  self.tables["pairs"])
        stages.append(r)
        if not r.skipped:
            self._lineage[-1]["pairs_by_pass"] = {
                p: n for p, n in by_pass.get.items() if n}

        def compute_scores():
            # widen the ids-only pair set BEFORE attaching texts: pair rows
            # are ~20 bytes here vs ~2 texts after the join, and a snapshot
            # read of a small parquet may come back as 1 partition
            par = self.spark.sparkContext.defaultParallelism * 2
            wide_pairs = pairs_df.repartition(par, "id_a")
            with_text = scoring.attach_texts(wide_pairs, norm_df, id_col="url",
                                             text_col="norm_text")
            # the exact length bound prunes before the crossing; in the
            # cascade the cheap banded ratio kernel gates the candidates and
            # jaro_winkler runs only on pairs >= tau, which are the rows kept
            kept = with_text.where(
                prefilter.ratio_length_bound(F.col("len_a"), F.col("len_b"), cfg.tau))
            scored = scoring.score_pairs_cascade(kept, tau=cfg.tau, secondary=("jaro_winkler",))
            return scored.where(F.col("ratio") >= F.lit(cfg.tau)).select(
                "id_a", "id_b", "block_pass", "block_key", "ratio", "jaro_winkler")

        scores_df, r = self._stage("scores", [stages[-1].snapshot_id], compute_scores,
                                   self.tables["scores"])
        stages.append(r)

        matched = scores_df.where(F.col("ratio") >= F.lit(cfg.tau))

        def compute_clusters():
            comps = clustering.connected_components(matched)
            return clustering.attach_clusters(
                norm_df.select("url", "norm_text"),
                comps.withColumnRenamed("doc_id", "url"),
                id_col="url",
            )

        clusters_df, r = self._stage("clusters", [stages[-1].snapshot_id], compute_clusters,
                                     self.tables["clusters"])
        stages.append(r)

        def compute_reps():
            return consensus.elect_representatives(
                clusters_df, method=cfg.consensus_method,
                text_col="norm_text", id_col="url",
            )

        reps_df, r = self._stage("consensus", [stages[-1].snapshot_id], compute_reps,
                                 self.tables["representatives"])
        stages.append(r)

        self._flush_lineage()
        return ERRun(clusters=clusters_df, representatives=reps_df, matched=matched,
                     stages=stages)
