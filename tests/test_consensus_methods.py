"""Consensus method variants through the sorted mapInArrow surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levsim import consensus


@pytest.fixture(scope="module")
def clustered(spark):
    rows = [
        ("c1", "d1", "Levnhtein"), ("c1", "d2", "Leveshein"), ("c1", "d3", "Leenshten"),
        ("c1", "d4", "Leveshtei"), ("c1", "d5", "Lenshtein"), ("c1", "d6", "Lvenstein"),
        ("c1", "d7", "Levenhtin"), ("c1", "d8", "evenshtei"),
        ("c2", "d9", "solo text"),
        ("c3", "da", "dup"), ("c3", "db", "dup"), ("c3", "dc", "dup variant"),
        ("c4", "dd", None), ("c4", "de", None),   # every text NULL
        ("c5", "df", None),                       # NULL-text singleton
    ]
    return spark.createDataFrame(rows, "cluster_id string, doc_id string, norm_text string")


@pytest.mark.parametrize("method,expected_c1", [
    ("median", "Levenshtein"),          # the reference's own docstring vector
    ("quickmedian", "Levnshein"),
    ("setmedian", None),                # medoid: any member; checked below
])
def test_methods(spark, clustered, method, expected_c1):
    reps = {r.cluster_id: r for r in
            consensus.elect_representatives(clustered, method=method).collect()}
    assert reps["c2"].representative == "solo text" and reps["c2"].n_members == 1
    assert reps["c1"].n_members == 8
    assert (reps["c4"].n_members, reps["c4"].representative) == (0, None)
    assert (reps["c5"].n_members, reps["c5"].representative) == (1, None)
    if expected_c1:
        assert reps["c1"].representative == expected_c1
    else:
        assert reps["c1"].representative in {
            "Levnhtein", "Leveshein", "Leenshten", "Leveshtei",
            "Lenshtein", "Lvenstein", "Levenhtin", "evenshtei",
        }
    # weights-as-multiplicities: 'dup' x2 beats 'dup variant'
    if method == "setmedian":
        assert reps["c3"].representative == "dup"


def test_megacluster_capped_and_majority(spark):
    """A 20k-member cluster streams through one task: the sorted pass keeps
    the max_members lowest ids and elects the dominant variant among them,
    whatever the input partitioning."""
    n = 20000
    base = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit("mega").alias("cluster_id"),
        F.when(F.col("id") % 10 < 8, F.lit("the canonical boilerplate page"))
        .otherwise(F.lit("the canonical boilerplate pag3")).alias("norm_text"),
    )
    out = consensus.elect_representatives(base, method="setmedian").collect()
    assert len(out) == 1
    assert out[0].n_members == 1000  # the max_members sample
    assert out[0].representative == "the canonical boilerplate page"
    out2 = consensus.elect_representatives(base.repartition(17), method="setmedian").collect()
    assert out2 == out
    # uncapped, every member votes
    full = consensus.elect_representatives(base, max_members=None).collect()
    assert [(r.n_members, r.representative) for r in full] == [
        (n, "the canonical boilerplate page")]
