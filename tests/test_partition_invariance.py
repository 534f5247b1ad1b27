"""Partition-invariance of the content-derived operators: identical results
regardless of input partitioning and shuffle width — the property that makes
outputs stable across cluster sizes, task retries and speculative execution
(every key/hash/sample in the engine is content-derived, never derived from
partition ids or RNG).  The two-cluster-size scaling criterion implicitly
assumes this; here it is asserted directly."""

from __future__ import annotations

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


def test_pipeline_layout_invariant(spark, tmp_path):
    """``ERPipeline.run`` gives the same pairs (with provenance), scores,
    clusters and representatives whether its pages come as 1 file under 3
    shuffle partitions or as 5 files of shuffled rows under 16, on a corpus
    with re-landed urls and a cap that binds."""
    import pandas as pd
    from pyspark.sql import functions as F

    from levsim import blocking, normalize, tables
    from levsim.pipeline import ERConfig, ERPipeline

    cap = 3
    pdf = tables.generate_pages_pdf(20, seed=2).drop(columns=["entity_id"])
    again = pdf.iloc[::7].assign(text=pdf.text.iloc[::7] + " v2",
                                 warc_ts=pdf.warc_ts.iloc[::7] + pd.Timedelta(hours=1))
    pdf = pd.concat([pdf, again], ignore_index=True)
    keyed = blocking.add_block_keys(normalize.with_normalized(
        normalize.one_page_per_url(spark.createDataFrame(pdf))))
    biggest = keyed.groupBy("block_key").count().agg(F.max("count")).first()[0]
    assert biggest > cap  # the cap binds

    def run(name, n_files, width):
        path = str(tmp_path / name)
        rows = pdf if n_files == 1 else pdf.sample(frac=1.0, random_state=5)
        spark.createDataFrame(rows).repartition(n_files).write.parquet(path)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            wd = str(tmp_path / f"{name}_er")
            ERPipeline(spark, wd, ERConfig(max_block_size=cap)).run(spark.read.parquet(path))
            return {t: sorted(tuple(r) for r in
                              tables.SnapshotTable(wd, t).read(spark).collect())
                    for t in ("pairs", "scores", "clusters", "representatives")}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    one, five = run("one_file", 1, 3), run("five_files", 5, 16)
    for t in one:
        assert one[t], t
        assert one[t] == five[t], f"{t} depends on the input layout"
