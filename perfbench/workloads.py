"""The benchmark's workloads.

Each workload builds its inputs from the seed with
``levsim.tables.generate_pages_pdf`` and keeps the ground-truth
``entity_id`` to itself: the program only ever sees the pages table.

A workload runs in phases driven by ``run.py``:

``load``      one set-up cycle: generate the corpus, write the pages table
              (repeated; the median cycle counts towards ``setup_s``);
``prepare``   one-off state and warm-up before the measured rounds;
``round``     one measured unit of work, returning the latency of each op;
``checks``    correctness checks on the last round;
``layer_extras``  per-layer counts and ratios for the traced run.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import statistics
import time
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from levsim import (batch, blocking, candidates, clustering, evaluate, incremental,
                    kernels, normalize, prefilter, scoring, streaming, tables)
from levsim.pipeline import ERConfig, ERPipeline

TAU = ERConfig().tau
PINNED_F1 = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_f1.json")

Check = Tuple[str, bool, str]

# tables.PAGES_SCHEMA as a parquet file schema
PAGES_ARROW = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                         ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def write_parquet(pdf, path: str) -> None:
    """Write generated pages (ground truth dropped) as one parquet file."""
    pq.write_table(pa.Table.from_pandas(pdf[PAGES_ARROW.names], schema=PAGES_ARROW,
                                        preserve_index=False), path)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def partition_of(rows, id_key: str) -> set:
    """{frozenset of member ids} of a (id, cluster_id) row list."""
    by: Dict[str, set] = {}
    for r in rows:
        by.setdefault(r["cluster_id"], set()).add(r[id_key])
    return {frozenset(v) for v in by.values() if len(v) > 1}


def kernel_rates(texts_a: list, texts_b: list, min_s: float = 0.3) -> Dict[str, float]:
    """Pairs per core-second of the batch ratio / Jaro-Winkler kernels,
    called in the driver on one pair sample."""
    out = {}
    for name, fn in (("ratio", lambda: batch.batch_ratio(texts_a, texts_b, score_cutoff=TAU)),
                     ("jw", lambda: batch.batch_jaro_winkler(texts_a, texts_b))):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += len(texts_a)
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out[name] = n / dt
    return out


class Workload:
    name = ""
    # the corpus: the first `pages` pages of `entities` generated entities,
    # so every seed yields the same page count (about 4.5 pages per entity)
    entities = 320
    pages = 1300
    trace_warmup = 0  # untimed rounds before the untraced/traced pair

    def __init__(self, spark, seed: int, work: str, cores: int, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.rounds = 0
        self.truth_pdf = None
        self.pages_path = ""
        self.n_pages = 0
        self.f1 = 0.0  # set by checks()
        self.done = {"pages": 0, "pairs": 0}  # work of the measured rounds
        self.parts: List[List[float]] = []  # per-op phase seconds, for the result file

    # -- helpers ------------------------------------------------------------
    def span(self, name: str, layer: str):
        if self.tracer.active:
            return self.tracer.span(name, layer)
        return contextlib.nullcontext()

    def scrub(self) -> None:
        """Release leaked localCheckpoint blocks before the next round."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def write_pages(self, pdf, path: str) -> str:
        """The pages table: one parquet file per core, in crawl order."""
        fresh_dir(path)
        for i, part in enumerate(np.array_split(np.arange(len(pdf)), self.cores)):
            write_parquet(pdf.iloc[part], os.path.join(path, f"part-{i:03d}.parquet"))
        return path

    def truth_pairs(self):
        return evaluate.truth_pairs_from_entities(
            self.spark.createDataFrame(self.truth_pdf), id_col="url")

    def corpus(self):
        n = self.entities
        pdf = tables.generate_pages_pdf(n, seed=self.seed)
        while len(pdf) < self.pages:  # a rare seed with few duplicates
            n += 20
            pdf = tables.generate_pages_pdf(n, seed=self.seed)
        return pdf.iloc[:self.pages]

    # -- phases -------------------------------------------------------------
    def load(self, cycle: int) -> None:
        pdf = self.corpus()
        self.truth_pdf = pdf[["url", "entity_id"]]
        self.n_pages = len(pdf)
        self.pages_path = self.write_pages(pdf, os.path.join(self.work, f"pages_{cycle}"))

    def prepare(self) -> None:
        raise NotImplementedError

    def more(self) -> bool:
        """False once the workload's inputs are used up."""
        return True

    def round(self) -> List[float]:
        raise NotImplementedError

    def checks(self) -> List[Check]:
        raise NotImplementedError

    def layer_extras(self, layer_metrics: Dict[str, float]) -> Dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class ERBatch(Workload):
    """``ERPipeline.run`` over a fresh workdir: the product path, measured
    as a batch job runs in production, once in a fresh engine, so the round
    includes first-use costs (Python workers, code generation, JIT)."""

    name = "er_batch"
    trace_warmup = 1

    def prepare(self) -> None:
        self.stage_rows: List[tuple] = []

    def more(self) -> bool:
        return self.rounds == 0  # the op is the one cold job

    def round(self) -> List[float]:
        if self.rounds:
            shutil.rmtree(self.workdir, ignore_errors=True)
        self.workdir = fresh_dir(os.path.join(self.work, f"er_round_{self.rounds}"))
        self.rounds += 1
        t0 = time.perf_counter()
        with self.span("ERPipeline.run", "pipeline"):
            run = ERPipeline(self.spark, self.workdir, ERConfig()).run(
                self.spark.read.parquet(self.pages_path),
                pages_snapshot_id=f"pages_seed{self.seed}")
        wall = time.perf_counter() - t0
        self.run = run
        self.stage_rows.append(tuple(s.rows for s in run.stages))
        self.parts.append([s.wall_sec for s in run.stages])
        rows = {s.stage: s.rows for s in run.stages}
        self.done["pages"] += rows["normalize"]
        self.done["pairs"] += rows["candidates"]
        return [wall]

    def checks(self) -> List[Check]:
        out: List[Check] = []
        rows = {s.stage: s.rows for s in self.run.stages}
        out.append(("every page clustered", rows["clusters"] == self.n_pages,
                    f"{rows['clusters']} of {self.n_pages}"))
        out.append(("rounds agree", len(set(self.stage_rows)) == 1, str(self.stage_rows[0])))
        docs = self._snapshot("pages_norm").select(F.col("url").alias("doc_id"), "norm_text")
        picked = self.run.matched.orderBy(F.xxhash64("id_a", "id_b", F.lit(self.seed))).limit(200)
        sample = scoring.attach_texts(picked, docs).collect()
        bad = [r for r in sample
               if r.ratio != kernels.ratio(r.text_a, r.text_b)
               or r.jaro_winkler != kernels.jaro_winkler(r.text_a, r.text_b)]
        out.append(("sampled scores equal the scalar kernels", bool(sample) and not bad,
                    f"{len(bad)} of {len(sample)} differ"))
        got = self.pair_f1_counts()
        with open(PINNED_F1) as f:
            pins = json.load(f)
        same_corpus = (pins["entities"], pins["pages"]) == (self.entities, self.pages)
        pin = pins["seeds"].get(str(self.seed)) if same_corpus else None
        if pin is not None:
            out.append(("pair F1 equals the pinned value", got == pin,
                        f"tp/fp/fn {got}, pinned {pin}"))
        else:
            out.append(("pair F1 >= 0.99 (seed not pinned)", self.f1 >= 0.99,
                        f"f1 {self.f1:.6f}, tp/fp/fn {got}"))
        return out

    def pair_f1_counts(self) -> List[int]:
        """[tp, fp, fn] of the last round's clusters; sets ``self.f1``."""
        f1 = evaluate.pair_f1(evaluate.pairs_from_clusters(self.run.clusters, id_col="url"),
                              self.truth_pairs())
        self.f1 = f1["f1"]
        return [f1["tp"], f1["fp"], f1["fn"]]

    def layer_extras(self, lm: Dict[str, float]) -> Dict[str, float]:
        rows = {s.stage: s.rows for s in self.run.stages}
        docs = self._snapshot("pages_norm").select(F.col("url").alias("doc_id"), "norm_text")
        passing = scoring.attach_texts(self._snapshot("pairs"), docs).where(
            prefilter.ratio_length_bound(F.col("len_a"), F.col("len_b"), TAU))
        n_pass = passing.count()
        sample = passing.select("text_a", "text_b").limit(4000).collect()
        rates = kernel_rates([r[0] for r in sample], [r[1] for r in sample])
        n_match = rows["scores"]
        kernel_core_s = n_pass / rates["ratio"] + n_match / rates["jw"]
        reps = self.run.representatives
        snap_bytes = sum(dir_bytes(os.path.join(self.workdir, t))
                         for t in ("pages_norm", "pairs", "scores", "clusters",
                                   "representatives"))
        return {
            "candidates.pairs": rows["candidates"],
            "prefilter.pass_ratio": n_pass / max(rows["candidates"], 1),
            "scoring.match_ratio": n_match / max(n_pass, 1),
            "batch.ratio_pairs_per_core_s": rates["ratio"],
            "batch.jw_pairs_per_core_s": rates["jw"],
            "udfs.crossing_overhead_s": lm["scoring.wall_s"] - kernel_core_s / self.cores,
            "consensus.multi_member_clusters": reps.where(F.col("n_members") > 1).count(),
            "tables.bytes_written_mb": snap_bytes / 1e6,
            "tables.write_amplification": snap_bytes / dir_bytes(self.pages_path),
        }

    def _snapshot(self, table: str):
        """The current snapshot of one of the round's pipeline tables."""
        return tables.SnapshotTable(self.workdir, table).read(self.spark)


# ---------------------------------------------------------------------------


class IncrementalCatchup(Workload):
    """A backfill file lands first (set-up), then increment files land one
    at a time; each catch-up ingests the new file, scores the new pairs and
    re-clusters the match log."""

    name = "incremental_catchup"
    backfill_share = 0.6
    increments = 4

    def load(self, cycle: int) -> None:
        pdf = self.corpus()
        self.truth_pdf = pdf[["url", "entity_id"]]
        self.n_pages = len(pdf)
        # seeded shuffle, so the duplicates of one entity land in different files
        order = np.random.RandomState(self.seed).permutation(len(pdf))
        n_back = int(len(pdf) * self.backfill_share)
        parts = [order[:n_back]] + np.array_split(order[n_back:], self.increments)
        root = fresh_dir(os.path.join(self.work, f"staged_{cycle}"))
        self.staged = []
        for k, idx in enumerate(parts):
            part = pdf.iloc[np.sort(idx)]
            path = os.path.join(root, f"{k}.parquet")
            write_parquet(part, path)
            self.staged.append((path, part["url"].tolist()))

    def prepare(self) -> None:
        root = fresh_dir(os.path.join(self.work, "inc"))
        self.in_dir = os.path.join(root, "in")
        self.pairs_log = os.path.join(root, "pairs")
        self.matches_log = os.path.join(root, "matches")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.in_dir)
        self.landed = 0
        self.landed_urls: List[str] = []
        self._catch_up()  # the backfill
        self.done = {"pages": 0, "pairs": 0}
        self.parts = []

    def more(self) -> bool:
        return self.landed < len(self.staged)

    def _catch_up(self) -> float:
        k = self.landed
        src, urls = self.staged[k]
        tmp = os.path.join(self.in_dir, f".landing-{k}")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(self.in_dir, f"pages-{k:03d}.parquet"))
        self.landed += 1
        self.landed_urls.extend(urls)
        t0 = time.perf_counter()
        with self.span(f"catch-up {k}", "catchup"):
            streaming.run_incremental_pairs(self.spark, self.in_dir, self.pairs_log, self.ckpt)
            t1 = time.perf_counter()
            docs = normalize.with_normalized(self.spark.read.parquet(self.in_dir)).select(
                F.col("url").alias("doc_id"), "norm_text")
            n_new = incremental.score_new_pairs(
                self.spark, self.spark.read.parquet(self.pairs_log), docs,
                self.matches_log, tau=TAU)
            t2 = time.perf_counter()
            self.comps = incremental.refresh_clusters(self.spark, self.matches_log, tau=TAU)
            self.comps.count()
        # ingest, score, cluster
        self.parts.append([t1 - t0, t2 - t1, time.perf_counter() - t2])
        self.done["pages"] += len(urls)
        self.done["pairs"] += n_new
        self.last_pairs = n_new
        return time.perf_counter() - t0

    def round(self) -> List[float]:
        self.rounds += 1
        return [self._catch_up()]

    def checks(self) -> List[Check]:
        norm = normalize.with_normalized(self.spark.read.parquet(self.in_dir))
        docs = norm.select(F.col("url").alias("doc_id"), "norm_text")
        keyed = blocking.add_block_keys(norm, id_col="url")
        cand = candidates.candidate_pairs(keyed, max_block_size=ERConfig().max_block_size,
                                          keep_pass_provenance=False)
        scored = scoring.score_pairs(scoring.attach_texts(cand, docs), tau=TAU,
                                     scorers=("ratio",))
        ref = clustering.connected_components(
            scored.where(F.col("ratio") >= TAU).select("id_a", "id_b"))
        inc_part = partition_of(self.comps.collect(), "doc_id")
        ref_part = partition_of(ref.collect(), "doc_id")
        self.truth_pdf = self.truth_pdf[self.truth_pdf["url"].isin(set(self.landed_urls))]
        f1 = evaluate.pair_f1(evaluate.pairs_from_clusters(self.comps, id_col="doc_id"),
                              self.truth_pairs())
        self.f1 = f1["f1"]
        return [("final clusters equal batch clusters on the landed pages",
                 inc_part == ref_part,
                 f"{len(inc_part)} vs {len(ref_part)} multi-member clusters")]

    def layer_extras(self, lm: Dict[str, float]) -> Dict[str, float]:
        log = self.spark.read.parquet(self.matches_log)
        n_log = log.count()
        n_match = log.where(F.col("ratio") >= TAU).count()
        docs = normalize.with_normalized(self.spark.read.parquet(self.in_dir)).select(
            F.col("url").alias("doc_id"), "norm_text")
        sample = scoring.attach_texts(log.select("id_a", "id_b"), docs) \
            .select("text_a", "text_b").limit(4000).collect()
        rates = kernel_rates([r[0] for r in sample], [r[1] for r in sample])
        traced = [s for s in self.tracer.spans if s["round"] == self.tracer.round]
        ingest = [s["end"] - s["start"] for s in traced
                  if s["name"] == "levsim.streaming.run_incremental_pairs"]
        return {
            "scoring.match_ratio": n_match / max(n_log, 1),
            "batch.ratio_pairs_per_core_s": rates["ratio"],
            "batch.jw_pairs_per_core_s": rates["jw"],
            "udfs.crossing_overhead_s": (lm["scoring.wall_s"]
                                         - self.last_pairs / rates["ratio"] / self.cores),
            "incremental.log_mb": dir_bytes(self.matches_log) / 1e6,
            "streaming.ingest_s": statistics.median(ingest) if ingest else 0.0,
            "streaming.pairs_emitted": self.spark.read.parquet(self.pairs_log).count(),
        }


WORKLOADS = {w.name: w for w in (ERBatch, IncrementalCatchup)}
