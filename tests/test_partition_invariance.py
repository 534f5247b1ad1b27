"""Partition-invariance of the content-derived operators: identical results
regardless of input partitioning and shuffle width — the property that makes
outputs stable across cluster sizes, task retries and speculative execution
(every key/hash/sample in the engine is content-derived, never derived from
partition ids or RNG).  The two-cluster-size scaling criterion implicitly
assumes this; here it is asserted directly."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# queries whose outputs would be the FIRST to drift if anything depended on
# physical layout: hash-based sampling/splits/sketches, minhash banding,
# distributed-rank SNM, connected components, bounded-top-K dedup groups,
# the BPE trainer's driver-side loop, and the LM count joins
QUERIES = [
    "sample_per_group",
    "dataset_split_assign",
    "kmv_token_sketch",
    "minhash_dedup_pairs",
    "sorted_neighborhood",
    "chain_components",
    "exact_dup_groups",
    "bpe_merges",
    "lm_fluency_scores",
    "dup_span_stats",
    # round 5: winnowing's window mins and ExactSubstr's canonical
    # (min doc_id, pos) election are content-derived total orders —
    # collect_set/groupBy ordering must not leak into either
    "winnow_dup_pairs",
    "dup_span_removal",
]


def _run(spark, name, n_part):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        df = entrymod.queries()[name](spark, SF_DIR)
        if n_part != "keep":
            df = df.repartition(int(n_part))
        return sorted(tuple(r) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", QUERIES)
def test_partition_invariant(spark, name):
    a = _run(spark, name, 2)
    b = _run(spark, name, 17)
    assert a == b, f"{name}: output depends on partitioning"


ER_TABLES = ("pairs", "scores", "clusters", "representatives")
CAP = 3  # binds on the layout corpus


def _layout_corpus(spark):
    """The 20-entity seed-2 pages plus every 7th url re-landed an hour
    later with changed text; asserts that the cap binds on it."""
    import pandas as pd
    from pyspark.sql import functions as F

    from levsim import blocking, normalize, tables

    pdf = tables.generate_pages_pdf(20, seed=2).drop(columns=["entity_id"])
    again = pdf.iloc[::7].assign(text=pdf.text.iloc[::7] + " v2",
                                 warc_ts=pdf.warc_ts.iloc[::7] + pd.Timedelta(hours=1))
    pdf = pd.concat([pdf, again], ignore_index=True)
    keyed = blocking.add_block_keys(normalize.with_normalized(
        normalize.one_page_per_url(spark.createDataFrame(pdf))))
    biggest = keyed.groupBy("block_key").count().agg(F.max("count")).first()[0]
    assert biggest > CAP  # the cap binds
    return pdf


def _er_snapshots(spark, wd):
    from levsim import tables

    return {t: sorted(tuple(r) for r in tables.SnapshotTable(wd, t).read(spark).collect())
            for t in ER_TABLES}


def test_pipeline_layout_invariant(spark, tmp_path):
    """``ERPipeline.run`` gives the same pairs (with provenance), scores,
    clusters and representatives whether its pages come as 1 file under 3
    shuffle partitions or as 5 files of shuffled rows under 16, on a corpus
    with re-landed urls and a cap that binds."""
    from levsim.pipeline import ERConfig, ERPipeline

    pdf = _layout_corpus(spark)

    def run(name, n_files, width):
        path = str(tmp_path / name)
        rows = pdf if n_files == 1 else pdf.sample(frac=1.0, random_state=5)
        spark.createDataFrame(rows).repartition(n_files).write.parquet(path)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            wd = str(tmp_path / f"{name}_er")
            ERPipeline(spark, wd, ERConfig(max_block_size=CAP)).run(spark.read.parquet(path))
            return _er_snapshots(spark, wd)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    one, five = run("one_file", 1, 3), run("five_files", 5, 16)
    for t in one:
        assert one[t], t
        assert one[t] == five[t], f"{t} depends on the input layout"


# argv: master, pages parquet, workdir, cap
RUN_AT_CORES = """
import sys
from levsim.pipeline import ERConfig, ERPipeline
from levsim.session import get_spark
master, inp, wd, cap = sys.argv[1:]
spark = get_spark(master=master, shuffle_partitions=5)
print("cores", spark.sparkContext.defaultParallelism)
ERPipeline(spark, wd, ERConfig(max_block_size=int(cap))).run(spark.read.parquet(inp))
spark.stop()
"""


def test_pipeline_core_count_invariant(spark, tmp_path):
    """The core-count leg: the layout corpus through ``ERPipeline.run`` in
    a ``local[1]`` and a ``local[3]`` session (a subprocess each, run side
    by side; a session's core count is fixed when it starts), both at
    shuffle width 5, gives identical pairs, scores, clusters and
    representatives."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = str(tmp_path / "pages")
    pdf = _layout_corpus(spark)
    spark.createDataFrame(pdf.sample(frac=1.0, random_state=5)).repartition(3) \
        .write.parquet(inp)
    env = {**os.environ, "LEVSIM_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    procs = {n: subprocess.Popen(
        [sys.executable, "-c", RUN_AT_CORES, f"local[{n}]", inp,
         str(tmp_path / f"cores{n}_er"), str(CAP)],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for n in (1, 3)}
    try:
        for n, p in procs.items():
            out, err = p.communicate(timeout=900)
            assert p.returncode == 0, err[-3000:]
            assert f"cores {n}" in out.splitlines(), out
    finally:
        for p in procs.values():
            if p.poll() is None:
                p.kill()
                p.wait()
    one, three = (_er_snapshots(spark, str(tmp_path / f"cores{n}_er")) for n in (1, 3))
    for t in one:
        assert one[t], t
        assert one[t] == three[t], f"{t} depends on the core count"
