"""spark-submit entry point for the ER pipeline (north rule:
``spark-submit --py-files levsim.zip scripts/run_pipeline.py``).

The report (JSON on stdout) lists each pipeline stage's rows, wall
seconds, skipped flag and ``spark`` record (its Spark jobs, tasks, executor
run/CPU/GC seconds, shuffle/spill/input/output MB; see ``levsim.pipeline``),
the same rows ``<workdir>/lineage.jsonl`` keeps, so this is also the
per-stage profiling entry point.  A rerun with the same workdir and input
skips every stage and records zero jobs.

Modes:
  --synthesize N   generate a deterministic synthetic pages corpus of N
                   entities (seed 42, ~4.5 pages each) as the input snapshot
  --input PATH     read an existing pages parquet (url, warc_ts, html,
                   text, lang); a rerun resumes only while its files are
                   unchanged
  --workdir DIR    snapshot/lineage/metrics root (default ./er_work)
  --tau X          match threshold (default 0.87)
  --evaluate       compute pairwise F1 against ground truth (synthetic only)

Build the py-files archive from the repository root with:
  zip -qr levsim.zip levsim
Then, with the engine's JIT policy (``levsim.session.JIT_JAVA_OPTIONS``) on
the submit line:
  spark-submit --master <cluster> --py-files levsim.zip \
      --driver-java-options "-XX:Tier4InvocationThreshold=50000 \
        -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=60000 \
        -XX:Tier4BackEdgeThreshold=400000" \
      scripts/run_pipeline.py --synthesize 1000 --workdir /tmp/er --evaluate
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--synthesize", type=int, default=0)
    ap.add_argument("--input", type=str, default=None)
    ap.add_argument("--workdir", type=str, default="./er_work")
    ap.add_argument("--tau", type=float, default=0.87)
    ap.add_argument("--consensus", type=str, default="setmedian",
                    choices=["setmedian", "quickmedian", "median"])
    ap.add_argument("--evaluate", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from levsim import evaluate, tables
    from levsim.pipeline import ERConfig, ERPipeline
    from levsim.session import ENGINE_CONF

    # The engine's one session recipe on top of what spark-submit set;
    # master, memory and shuffle width stay the submit line's.  A round-6
    # spark-submit stress run built its session with a bare getOrCreate()
    # here and ran without AQE.  JVM options belong on the submit line too,
    # since the driver JVM is running before this script: the heap with
    # --driver-memory, the JIT policy session.JIT_JAVA_OPTIONS (which
    # get_spark sets for local sessions) with --driver-java-options.
    spark = SparkSession.builder.appName("levsim-er").config(map=ENGINE_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        pages = tables.generate_pages(spark, n_entities=args.synthesize, seed=42)
        # an in-memory corpus has no files to key resume on: name it
        input_id = f"synthetic_{args.synthesize}_42"
    elif args.input:
        pages = spark.read.parquet(args.input)
        # resume keys on the files' paths, sizes and mtimes, so a replaced
        # file recomputes (``tables.input_snapshot_id``)
        input_id = None
    else:
        ap.error("one of --synthesize or --input is required")
        return

    cfg = ERConfig(tau=args.tau, consensus_method=args.consensus)
    pipe = ERPipeline(spark, args.workdir, cfg)
    run = pipe.run(pages, pages_snapshot_id=input_id)

    report = {
        "run_id": pipe.run_id,
        "stages": [
            {"stage": s.stage, "snapshot": s.snapshot_id, "rows": s.rows,
             "wall_sec": round(s.wall_sec, 2), "skipped": s.skipped, "spark": s.spark}
            for s in run.stages
        ],
        "n_clusters": run.representatives.count(),
    }
    if args.evaluate and args.synthesize:
        predicted = evaluate.pairs_from_clusters(run.clusters, id_col="url")
        truth = evaluate.truth_pairs_from_entities(pages, id_col="url")
        report["pair_f1"] = evaluate.pair_f1(predicted, truth)
        # cluster-level metric (round 5): B-cubed weights every RECORD
        # equally where pairwise F1 weights clusters quadratically
        assigned = run.clusters.select("url", "cluster_id").join(
            pages.select("url", "entity_id"), "url")
        report["bcubed"] = evaluate.bcubed(assigned, id_col="url")
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
