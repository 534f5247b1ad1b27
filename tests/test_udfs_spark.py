"""Spark↔local equivalence (SURVEY.md §5.3): pandas-UDF outputs over a
DataFrame must equal scalar kernel calls row-by-row, exactly."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from levsim import kernels as K
from levsim import udfs

rng = random.Random(99)
ALPHA = "abcdef ü日"
ROWS = [
    ("".join(rng.choice(ALPHA) for _ in range(rng.randint(0, 40))),
     "".join(rng.choice(ALPHA) for _ in range(rng.randint(0, 40))))
    for _ in range(200)
] + [("", ""), ("abc", ""), ("", "abc"), ("lewenstein", "levenshtein")]


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame(ROWS, ["a", "b"]).repartition(4).cache()


def test_distance_udf(pairs_df):
    got = pairs_df.withColumn("d", udfs.pair_udf("distance")("a", "b")).collect()
    for r in got:
        assert r.d == K.distance(r.a, r.b), (r.a, r.b)


def test_distance_udf_cutoff(pairs_df):
    got = pairs_df.withColumn("d", udfs.pair_udf("distance", score_cutoff=3)("a", "b")).collect()
    for r in got:
        assert r.d == K.distance(r.a, r.b, score_cutoff=3)


def test_ratio_udf(pairs_df):
    got = pairs_df.withColumn("s", udfs.pair_udf("ratio")("a", "b")).collect()
    for r in got:
        assert r.s == K.ratio(r.a, r.b)  # exact float equality: same code path


def test_jaro_udfs(pairs_df):
    got = pairs_df.withColumn("j", udfs.pair_udf("jaro")("a", "b")).withColumn(
        "jw", udfs.pair_udf("jaro_winkler")("a", "b")
    ).collect()
    for r in got:
        assert r.j == K.jaro(r.a, r.b)
        assert r.jw == K.jaro_winkler(r.a, r.b)


def test_hamming_udf(pairs_df):
    got = pairs_df.withColumn("h", udfs.pair_udf("hamming")("a", "b")).collect()
    for r in got:
        assert r.h == K.hamming(r.a, r.b)


def test_editops_udf(pairs_df):
    got = pairs_df.withColumn("e", udfs.lev_editops_udf()("a", "b")).collect()
    for r in got:
        exp = K.editops(r.a, r.b)
        assert [(x.op, x.spos, x.dpos) for x in r.e] == exp


@pytest.mark.parametrize("scorer, scalar", [
    ("osa", K.osa_distance), ("damerau", K.damerau_distance),
    ("affine_gap", K.affine_gap_distance), ("partial_ratio", K.partial_ratio)])
def test_pair_udf_equals_scalar(pairs_df, scorer, scalar):
    """The table's scorers that no test above covers, one column each."""
    for r in pairs_df.withColumn("s", udfs.pair_udf(scorer)("a", "b")).collect():
        assert r.s == scalar(r.a, r.b), (r.a, r.b)


def test_pair_udf_types():
    """Distances are LongType columns, similarities DoubleType."""
    types = {s: udfs.pair_udf(s).returnType for s in udfs.SCORERS}
    assert {s for s, t in types.items() if t == LongType()} == {
        "distance", "osa", "affine_gap", "hamming", "damerau"}
    assert {s for s, t in types.items() if t == DoubleType()} == {
        "ratio", "jaro", "jaro_winkler", "partial_ratio"}


def test_pair_udf_bad_params_raise_when_built():
    with pytest.raises(ValueError):
        udfs.pair_udf("jaro_winkler", prefix_weight=0.3)
    with pytest.raises(ValueError):
        udfs.pair_udf("distance", weights=(-1, 1, 1))
    with pytest.raises(ValueError):
        udfs.pair_udf("affine_gap", gap_open=-2)
    with pytest.raises(TypeError):
        udfs.pair_udf("jaro", score_cutoff=0.5)  # batch_jaro takes no cutoff


def test_unknown_scorer_names_raise(spark):
    """A misspelt scorer raises instead of scoring nothing."""
    from levsim.scoring import score_pairs, score_pairs_cascade

    df = spark.createDataFrame(
        [(1, 2, "lewenstein", "levenshtein", 10, 11)],
        "id_a long, id_b long, text_a string, text_b string, len_a int, len_b int",
    )
    with pytest.raises(ValueError):
        udfs.pair_udf("ratoi")
    with pytest.raises(ValueError):
        udfs.multi_score_udf(("ratio", "ratoi"))
    with pytest.raises(ValueError):
        score_pairs(df, scorers=("ratoi",))
    with pytest.raises(ValueError):
        score_pairs_cascade(df, tau=0.5, secondary=("jaro_winklr",))


def test_seqratio_setratio_udf(spark):
    rows = [
        (["newspaper", "litter bin", "tinny", "antelope"], ["caribou", "sausage", "gorn", "woody"]),
        ([], []),
        (["a"], []),
    ]
    df = spark.createDataFrame(rows, ["la", "lb"])
    got = df.withColumn("seq", udfs.seqratio_udf()("la", "lb")).withColumn(
        "set", udfs.setratio_udf()("la", "lb")
    ).collect()
    for r in got:
        assert r.seq == K.seqratio(r.la, r.lb)
        assert r.set == K.setratio(r.la, r.lb)


def test_nulls_propagate(spark):
    df = spark.createDataFrame([("abc", None), (None, "x"), ("a", "b")], ["a", "b"])
    got = df.withColumn("s", udfs.pair_udf("ratio")("a", "b")).orderBy(F.col("a").asc_nulls_first()).collect()
    # sorted by a: (None,"x"), ("a","b"), ("abc",None)
    assert got[0].s is None and got[1].s is not None and got[2].s is None


def test_multi_score_new_scorers(spark):
    """osa / affine_gap / partial_ratio ride the single-Arrow-crossing
    cascade and match their scalar kernels."""
    from levsim import kernels as K
    from levsim.udfs import multi_score_udf

    rows = [("lewenstein", "levenshtein"), ("ab", "ba"), ("", "x"), ("same", "same")]
    df = spark.createDataFrame(rows, "a string, b string")
    u = multi_score_udf(("ratio", "osa", "affine_gap", "partial_ratio"))
    got = {
        (r.a, r.b): r.s
        for r in df.select("a", "b", u("a", "b").alias("s")).collect()
    }
    for a, b in rows:
        s = got[(a, b)]
        assert s.ratio == K.ratio(a, b)
        assert s.osa == K.osa_distance(a, b)
        assert s.affine_gap == K.affine_gap_distance(a, b)
        assert s.partial_ratio == K.partial_ratio(a, b)


def test_score_pairs_accepts_new_scorers(spark):
    """score_pairs / cascade surface the continuation scorers as columns
    (previously silently dropped by the allowlist)."""
    from levsim import kernels as K
    from levsim.scoring import score_pairs, score_pairs_cascade

    df = spark.createDataFrame(
        [(1, 2, "lewenstein", "levenshtein", 10, 11)],
        "id_a long, id_b long, text_a string, text_b string, len_a int, len_b int",
    )
    out = score_pairs(df, scorers=("ratio", "osa", "affine_gap", "partial_ratio")).collect()[0]
    assert out.osa == K.osa_distance("lewenstein", "levenshtein")
    assert out.affine_gap == K.affine_gap_distance("lewenstein", "levenshtein")
    assert out.partial_ratio == K.partial_ratio("lewenstein", "levenshtein")
    casc = score_pairs_cascade(df, tau=0.5, secondary=("jaro_winkler", "osa")).collect()[0]
    assert casc.osa == K.osa_distance("lewenstein", "levenshtein")
    assert casc.ratio >= 0.5


CASCADE_ROWS = [
    ("lewenstein", "levenshtein"),  # above tau
    ("kitten", "sitting"),  # below tau
    ("abcdef", "abcdeg"),  # above
    ("abcd", "wxyz"),  # below, same length
    ("", ""),  # empty pair: ratio 1.0
    ("", "abc"),
    (None, "abc"),
    ("abc", None),
    ("ab ü日 cd", "ab ü日 ce"),
]


@pytest.mark.parametrize("scorer", [s for s in udfs.SCORERS if s != "ratio"])
def test_cascade_fused_equals_two_step(spark, scorer):
    """The one-crossing cascade returns every row: at ratio >= tau the
    values of the two-step reference (ratio UDF, ratio >= tau, then the
    secondary UDF on the survivors), below it ratio 0.0 and a NULL
    secondary score, NULL scores for a NULL text; its plan has exactly one
    ArrowEvalPython."""
    from levsim.scoring import score_pairs_cascade

    tau = 0.7
    rows = [(i, i + 1000, a, b) for i, (a, b) in enumerate(CASCADE_ROWS + ROWS)]
    df = spark.createDataFrame(
        rows, "id_a long, id_b long, text_a string, text_b string"
    ).withColumn("len_a", F.length("text_a")).withColumn("len_b", F.length("text_b"))
    fused = score_pairs_cascade(df, tau=tau, secondary=(scorer,))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

    ref = df.withColumn("ratio", udfs.pair_udf("ratio", score_cutoff=tau)("text_a", "text_b"))
    ref = ref.where(F.col("ratio") >= tau).localCheckpoint()
    ref = ref.withColumn("_s", udfs.multi_score_udf((scorer,))("text_a", "text_b"))
    field = ref.schema["_s"].dataType.fieldNames()[0]
    ref = ref.select("id_a", "id_b", "ratio", F.col("_s")[field].alias(field))

    got = {r.id_a: tuple(r) for r in fused.select(*ref.columns).collect()}
    want = {r.id_a: tuple(r) for r in ref.collect()}
    assert {i: got[i] for i in want} == want
    assert {0, 4} <= set(want) and not {1, 3, 6, 7} & set(want)
    assert sorted(got) == [r[0] for r in rows]
    for i, _, a, b in rows:
        if i not in want:  # below tau: ratio 0.0 (NULL for a NULL text), no secondary
            assert got[i][2:] == (None if a is None or b is None else 0.0, None), (a, b)


def test_gated_multi_score_needs_ratio():
    with pytest.raises(ValueError):
        udfs.multi_score_udf(("jaro",), gate=0.5)
