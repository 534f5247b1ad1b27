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

Lineage (``lineage.jsonl``): one row per executed/skipped stage, appended
when the stage ends (run id, stage, input snapshot ids, output snapshot id,
row count from the manifest, wall seconds, skipped flag, ``spark`` costs);
the candidates row adds ``pairs_by_pass``, observed on the candidates write
(``DataFrame.observe``).  ``spark`` is the stage's own Spark costs: its
``er_<stage>`` jobs' count and, summed over their Spark stages, tasks,
failed tasks, executor run/CPU/GC seconds and shuffle/spill/input/output
MB, read in-process from the status store once the listener bus has
drained (no job, no HTTP); ``complete`` is false when the bus did not drain
in time, and then the sums may be partial.  A skipped
stage records zeros.  ``wall_sec`` ends before the record is read.
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
from py4j.protocol import Py4JJavaError
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

    def params(self) -> dict:
        return {
            "tau": self.tau,
            "max_block_size": self.max_block_size,
            "consensus": self.consensus_method,
        }


# a stage's ``spark`` record: key -> StageData getters summed, unit scale
_SPARK_COSTS = {
    "tasks": (("numCompleteTasks",), 1),
    "failed_tasks": (("numFailedTasks",), 1),
    "executor_run_s": (("executorRunTime",), 1e-3),
    "executor_cpu_s": (("executorCpuTime",), 1e-9),
    "gc_s": (("jvmGcTime",), 1e-3),
    "shuffle_read_mb": (("shuffleReadBytes",), 1e-6),
    "shuffle_write_mb": (("shuffleWriteBytes",), 1e-6),
    "spill_mb": (("memoryBytesSpilled", "diskBytesSpilled"), 1e-6),
    "input_mb": (("inputBytes",), 1e-6),
    "output_mb": (("outputBytes",), 1e-6),
}


def _drain_listener_bus(sc) -> None:
    """Wait until the listener bus has delivered its queued events to the
    status store; Spark gives up after 10 s and raises TimeoutException
    (a ``Py4JJavaError`` here)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class StageResult:
    stage: str
    snapshot_id: str
    rows: int
    wall_sec: float
    skipped: bool
    spark: dict = field(default_factory=dict)


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

    # ------------------------------------------------------------------
    def _stage(self, name: str, inputs: List[str], compute, table: SnapshotTable,
               lineage_extra=None) -> tuple:
        """Skip or compute+write one stage, then append its lineage row;
        ``lineage_extra()`` adds fields known only after the write."""
        sid = snapshot_id_for(name, self.cfg.params(), inputs)
        group = f"er_{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"er stage {name}")
        t0 = time.time()
        skipped = table.exists(sid)
        extra = {}
        if skipped:
            rows = table.manifest(sid)["row_count"]
        else:
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            info = table.write(compute(), sid, params=self.cfg.params(),
                               parent=inputs[0] if inputs else None)
            rows = info.row_count
            self._write_metrics(name, table.manifest(sid))
        # downstream plans scan the snapshot (stored schema: no job)
        df = table.read(self.spark, sid)
        # the stage's wall time leaves out the cost of recording it
        wall = 0.0 if skipped else time.time() - t0
        if skipped:
            spark = {"jobs": 0, **dict.fromkeys(_SPARK_COSTS, 0), "complete": True}
        else:
            spark = self._spark_costs(group, before)
            if lineage_extra is not None:
                extra = lineage_extra()
        res = StageResult(name, sid, rows, wall, skipped, spark)
        row = {
            "run_id": self.run_id,
            "stage": name,
            "inputs": inputs,
            "snapshot_id": sid,
            "rows": res.rows,
            "wall_sec": round(res.wall_sec, 3),
            "skipped": res.skipped,
            "spark": spark,
            **extra,
            "ts": time.time(),
        }
        with open(os.path.join(self.workdir, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(row) + "\n")
        return df, res

    def _spark_costs(self, group: str, before: set) -> dict:
        """The costs of the jobs ``group`` ran since ``before`` (job ids),
        summed over their Spark stages from the in-process status store."""
        sc = self.spark.sparkContext
        # job/stage end events reach the status store through the bus.  A
        # queue that lags (an event log on remote storage, a flood of task
        # ends) can outlast the bus's wait: the record then sums what the
        # store holds so far and says it is incomplete; the stage goes on
        try:
            _drain_listener_bus(sc)
            complete = True
        except Py4JJavaError:
            complete = False
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        jobs = set(tracker.getJobIdsForGroup(group)) - before
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        done = []
        for s in stage_ids:
            try:
                data = store.lastStageAttempt(s)
            except Py4JJavaError:
                # gone: past spark.ui.retainedStages the store evicts the
                # stages without a completion time, the SKIPPED ones, first
                continue
            # a stage already run by an earlier job is SKIPPED here
            if data.status().toString() != "SKIPPED":
                done.append(data)
        rec = {"jobs": len(jobs)}
        for key, (getters, scale) in _SPARK_COSTS.items():
            total = sum(getattr(d, g)() for d in done for g in getters)
            rec[key] = total if scale == 1 else round(total * scale, 3)
        rec["complete"] = complete
        return rec

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

        # one page per url, by the catch-up's rule (a re-landed url is one
        # page, not two rows that cluster and pair twice)
        norm_df, r = self._stage("normalize", [pages_snapshot_id],
                                 lambda: normalize.with_normalized(
                                     normalize.one_page_per_url(pages)),
                                 self.tables["pages_norm"])
        stages.append(r)

        by_pass = Observation("pairs_by_pass")

        def compute_pairs():
            # the catch-up's keys (streaming.run_incremental_pairs)
            blocks = blocking.add_block_keys(norm_df)
            pairs = candidates.candidate_pairs(blocks, max_block_size=cfg.max_block_size)
            # blocking observability: per-pass candidate counts, observed
            # on the snapshot write
            return pairs.observe(by_pass, *[
                F.count_if(F.col("block_pass") == p).alias(p) for p in blocking.PASSES])

        pairs_df, r = self._stage(
            "candidates", [stages[-1].snapshot_id], compute_pairs, self.tables["pairs"],
            lineage_extra=lambda: {"pairs_by_pass": {p: n for p, n in by_pass.get.items() if n}})
        stages.append(r)

        def compute_scores():
            # widen the ids-only pair set BEFORE attaching texts: pair rows
            # are ~20 bytes here vs ~2 texts after the join, and a snapshot
            # read of a small parquet may come back as 1 partition
            par = self.spark.sparkContext.defaultParallelism * 2
            wide_pairs = pairs_df.repartition(par, "id_a")
            with_text = scoring.attach_texts(wide_pairs, norm_df, id_col="url",
                                             text_col="norm_text")
            # the exact length bound prunes before the crossing; in the
            # cascade the ratio kernel (full bit-parallel Indel, zeroed below
            # tau) gates the candidates and jaro_winkler runs only on pairs
            # >= tau, which are the rows kept
            kept = with_text.where(
                prefilter.ratio_length_bound(F.col("len_a"), F.col("len_b"), cfg.tau))
            scored = scoring.score_pairs_cascade(kept, tau=cfg.tau)
            return scored.where(F.col("ratio") >= F.lit(cfg.tau)).select(
                "id_a", "id_b", "block_pass", "block_key", "ratio", "jaro_winkler")

        scores_df, r = self._stage("scores", [stages[-1].snapshot_id], compute_scores,
                                   self.tables["scores"])
        stages.append(r)

        def compute_clusters():
            # the scores snapshot holds only the matches (ratio >= tau)
            comps = clustering.connected_components(scores_df)
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

        return ERRun(clusters=clusters_df, representatives=reps_df, matched=scores_df,
                     stages=stages)
