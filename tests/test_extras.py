"""Tests for the training-data operators: dedup, simsearch, textstats and
the web-curation extras."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levsim.extras import dedup, simsearch, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog", "en"),  # near dup
        (4, "completely different text about stock markets and finance", "en"),
        (5, "der schnelle braune fuchs springt und das ist gut", "de"),
        (6, "la rapida zorra marron salta sobre el perro con una para", "es"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"]).cache()


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicates(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0].keep_id == 1 and groups[0].dup_ids == [1, 2]


def test_minhash_candidates(spark, docs):
    pairs = dedup.minhash_candidate_pairs(docs, "doc_id", "text",
                                          rows_per_band=2, shingle_k=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got           # identical -> all bands agree
    assert (1, 3) in got or (2, 3) in got  # near dup caught by some band
    assert (1, 4) not in got


def test_minhash_determinism(spark, docs):
    from levsim.blocking import band_keys, minhash_signature

    s1 = minhash_signature("hello world foo bar", 64, 3, 0x5EED)
    s2 = minhash_signature("hello world foo bar", 64, 3, 0x5EED)
    assert (s1 == s2).all()
    assert band_keys(s1, 4) == band_keys(s2, 4)


def test_simhash_pairs(spark, docs):
    pairs = dedup.simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=8)
    got = {(r.id_a, r.id_b): r.hamming_bits for r in pairs.collect()}
    assert got[(1, 2)] == 0        # identical texts -> identical simhash
    assert (1, 3) in got           # near dup within hamming budget (hamming 7)
    assert (1, 4) not in got


def test_simhash_batch_equals_scalar():
    from levsim.blocking import _tokenize

    texts = ["a b c", "a  b\tc", "", None, "x", "the the the different words here"]
    got = dedup.batch_simhash(texts)
    for t, s in zip(texts, got):
        assert int(s) == dedup.simhash64(_tokenize(t or ""))


def test_simhash_band_bounds():
    import pytest as _pytest

    for k in (0, 1, 3, 8, 31, 63):
        bounds = dedup.simhash_band_bounds(k)
        assert len(bounds) == k + 1
        assert sum(w for _, w in bounds) == 64          # disjoint, exhaustive
        assert all(w >= 1 for _, w in bounds)
        offs = [o for o, _ in bounds]
        assert offs == sorted(offs) and offs[0] == 0
    with _pytest.raises(ValueError):
        dedup.simhash_band_bounds(64)


def test_simhash_recall_contract(spark):
    """Every pair within max_hamming MUST be emitted (pigeonhole banding) —
    the round-1 bug was max_hamming=8 on 4 fixed bands (recall only <=3).
    Brute-force oracle over a corpus dense enough to populate 4-8 bit gaps."""
    rows = []
    for i in range(40):
        # perturb a shared vocabulary so signatures land near each other
        toks = [f"w{j + (i % 7 == j % 7) * i}" for j in range(12)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {i: dedup.simhash64(t.split()) for i, t in rows}
    for k in (3, 8):
        want = {
            (a, b)
            for a in range(40) for b in range(a + 1, 40)
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= k
        }
        got = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_candidate_pairs(df, "doc_id", "text",
                                                   max_hamming=k).collect()
        }
        assert got == want, f"max_hamming={k}: missing {want - got}"


def test_brute_force_topk(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(100, [1.0, 0.1] + [0.0] * 6)], ["query_id", "embedding"]
    )
    top = simsearch.brute_force_topk(corpus, queries, k=2).collect()
    assert top[0].neighbor_id == 0 and top[0].rank == 1
    assert top[1].neighbor_id == 1 and top[1].rank == 2


def test_brute_force_topk_blocked_parity(spark):
    """brute_force_topk_blocked (matmul partial-top-k, round 5) must emit
    EXACTLY the join+window HOF plan's rows — same neighbors, same rounded
    cosines, same ranks — including null embeddings (scored 0.0) and
    k > partition-size merges."""
    import numpy as np

    rng = np.random.RandomState(17)
    base = rng.randn(90, 16)
    rows = [(i, base[i].tolist()) for i in range(90)] + [(90, None)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .repartition(7)
    queries = spark.createDataFrame(
        [(i, (base[i] + rng.randn(16) * 0.1).tolist()) for i in range(6)]
        + [(6, None)],
        "query_id long, embedding array<double>",
    )
    for k in (1, 5, 40):
        hof = sorted(map(tuple, simsearch.brute_force_topk(
            corpus, queries, k=k).collect()))
        blk = sorted(map(tuple, simsearch.brute_force_topk_blocked(
            corpus, queries, k=k).collect()))
        assert blk == hof, k
    with pytest.raises(ValueError):
        simsearch.brute_force_topk_blocked(
            corpus, queries.where("query_id < 0"), k=2).collect()


def test_ivf_topk_recall(spark):
    import numpy as np

    rng = np.random.RandomState(9)
    base = rng.randn(120, 64)
    corpus = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(120)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(i, (base[i] + rng.randn(64) * 0.05).tolist()) for i in range(8)],
        ["query_id", "embedding"],
    )
    exact = {r.query_id: r.neighbor_id
             for r in simsearch.brute_force_topk(corpus, queries, k=1).collect()}
    approx = {r.query_id: r.neighbor_id
              for r in simsearch.ivf_topk(corpus, queries, k=1, nlist=8, nprobe=3).collect()}
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 7, (exact, approx)
    # determinism: same inputs -> same results
    again = {r.query_id: r.neighbor_id
             for r in simsearch.ivf_topk(corpus, queries, k=1, nlist=8, nprobe=3).collect()}
    assert again == approx


def test_ivf_uniform_guardrail(spark):
    """Round-4 VERDICT #5: on structureless vectors (the measured IVF
    failure mode, BASELINE recall@10 0.46-0.61) the sample-recall estimate
    must trigger the guardrail — warn by default, exact-brute fallback on
    request — while clustered input sails through silently."""
    import warnings

    import numpy as np

    rng = np.random.RandomState(5)
    dim = 64
    uni = rng.randn(300, dim)
    centers = rng.randn(6, dim)
    clu = centers[rng.randint(0, 6, 300)] + 0.15 * rng.randn(300, dim)

    def dfs(base):
        corpus = spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(len(base))],
            ["vec_id", "embedding"],
        )
        queries = spark.createDataFrame(
            [(i, (base[i] + rng.randn(dim) * 0.05).tolist()) for i in range(6)],
            ["query_id", "embedding"],
        )
        return corpus, queries

    ucorpus, uqueries = dfs(uni)
    ccorpus, cqueries = dfs(clu)
    # uniform + warn (default): UserWarning naming the estimate
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        simsearch.ivf_topk(ucorpus, uqueries, k=2, nlist=16, nprobe=3)
        assert any("sample-estimated recall" in str(w.message) for w in rec)
    # uniform + fallback: result is EXACTLY the brute-force plan's output
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("always")
        fb = simsearch.ivf_topk(
            ucorpus, uqueries, k=2, nlist=16, nprobe=3, on_low_recall="fallback")
    brute = simsearch.brute_force_topk(ucorpus, uqueries, k=2)
    assert sorted(map(tuple, fb.collect())) == sorted(map(tuple, brute.collect()))
    # clustered: no warning, IVF plan runs, recall@1 is perfect
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        approx = simsearch.ivf_topk(
            ccorpus, cqueries, k=1, nlist=8, nprobe=2, on_low_recall="fallback")
        got = {r.query_id: r.neighbor_id for r in approx.collect()}
        assert not [w for w in rec if "sample-estimated" in str(w.message)]
    exact = {r.query_id: r.neighbor_id
             for r in simsearch.brute_force_topk(ccorpus, cqueries, k=1).collect()}
    assert got == exact
    with pytest.raises(ValueError):
        simsearch.ivf_topk(ccorpus, cqueries, on_low_recall="nope")


def test_textstats(spark, docs):
    out = {r.doc_id: r for r in textstats.with_textstats(docs).collect()}
    assert out[1].n_tokens == 9
    assert out[1].lang_pred == "en"
    assert out[5].lang_pred == "de"
    assert out[6].lang_pred == "es"
    assert 0.0 <= out[1].quality <= 1.0
    # fingerprint: deterministic, distinct for distinct texts, equal for dups
    assert out[1].fingerprint == out[2].fingerprint
    assert out[1].fingerprint != out[3].fingerprint


def test_simhash_sql_pairs_exact_set(spark, docs):
    """SQL-algebra simhash: banded join emits EXACTLY the hamming<=k set."""
    sigs = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", dedup.simhash_sql_col(F.col("text"), 32).alias("sh")
        ).collect()
    }
    ids = sorted(sigs)
    for k in (0, 3):
        want = {
            (a, b)
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(sigs[a] ^ sigs[b]).count("1") <= k
        }
        got = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_sql_pairs(docs, "doc_id", "text",
                                             max_hamming=k, n_bits=32).collect()
        }
        assert got == want


def test_minhash_sql_pairs_exact_set(spark, docs):
    """SQL-algebra minhash LSH: emitted set == brute-force band equality."""
    perms = [(3, 11), (5, 7), (17, 23), (29, 1)]
    sigs = {
        r.doc_id: (r.s0, r.s1, r.s2, r.s3)
        for r in dedup.minhash_sql_sigs(docs, "doc_id", "text", perms).collect()
    }
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if sigs[a][0:2] == sigs[b][0:2] or sigs[a][2:4] == sigs[b][2:4]
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_sql_pairs(docs, "doc_id", "text", perms,
                                         rows_per_band=2).collect()
    }
    assert got == want
    assert (1, 2) in got  # identical texts share every band


def test_word_shingles_edge_cases(spark):
    rows = [(1, "a b c"), (2, "single"), (3, ""), (4, "  ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", dedup.word_shingles_col(F.col("text"), 2).alias("sh")
        ).collect()
    }
    assert got[1] == ["a b", "b c"]
    assert got[2] == ["single"]
    assert got[3] == [] and got[4] == []


def test_char_ngrams_edge_cases(spark):
    rows = [(1, "abcd"), (2, "ab"), (3, ""), (4, "aaaa")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: sorted(r.g)
           for r in df.select("doc_id",
                              dedup.char_ngrams_col(F.col("text"), 3).alias("g")).collect()}
    assert got[1] == ["abc", "bcd"]
    assert got[2] == []            # shorter than n (sequence-descend guard)
    assert got[3] == []
    assert got[4] == ["aaa"]       # distinct


def test_embedding_neardup_pairs(spark):
    import numpy as np

    rng = np.random.RandomState(21)
    base = rng.randn(60, 64)
    rows = [(i, base[i].tolist()) for i in range(60)]
    # seed 12 true near-dup pairs: ids 100+i are jittered copies of i
    for i in range(12):
        rows.append((100 + i, (base[i] + rng.randn(64) * 0.05).tolist()))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    brute = {(r.id_a, r.id_b)
             for r in simsearch.embedding_neardup_pairs(
                 corpus, threshold=0.9, method="brute").collect()}
    assert {(i, 100 + i) for i in range(12)} <= brute
    lsh = {(r.id_a, r.id_b)
           for r in simsearch.embedding_neardup_pairs(
               corpus, threshold=0.9, method="lsh",
               n_planes=16, bands=8).collect()}
    assert lsh <= brute                      # verify step: no false positives
    assert len(lsh & brute) >= 0.8 * len(brute)  # recall of the scale path


def test_simhash_max_hamming_zero_64bit_band(spark):
    """max_hamming=0 -> one 64-bit band: the all-ones mask must not overflow
    LongType (ADVICE round 2 — F.lit(2**64 - 1) fails at plan build)."""
    rows = [
        (1, "the quick brown fox"),
        (2, "the quick brown fox"),      # identical -> simhash equal
        (3, "a completely different document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): r.hamming_bits
           for r in dedup.simhash_candidate_pairs(df, "doc_id", "text",
                                                  max_hamming=0).collect()}
    assert got == {(1, 2): 0}


def test_exact_dup_cap_bounded_tasks(spark):
    """A mega-duplicate group split over many input partitions must yield
    the same capped result as the single-task path, with per-partition
    partials bounded (the round-2 row_number window shipped the whole group
    to one sort task)."""
    n = 5000
    rows = [(i, "boilerplate page") for i in range(n)] + [(n, "unique")]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(16)
    out = dedup.exact_duplicates(df, "doc_id", "text", max_dup_ids=20).collect()
    assert len(out) == 1
    g = out[0]
    assert g.n_dups == n and g.keep_id == 0
    assert g.dup_ids == list(range(20))      # exact global 20 smallest ids
    # uncapped path unchanged
    full = dedup.exact_duplicates(df.where(F.col("doc_id") < 5), "doc_id",
                                  "text", max_dup_ids=None).collect()
    assert full[0].dup_ids == [0, 1, 2, 3, 4]


def test_ivf_assign_vectorized():
    """Batch matmul assignment == per-vector scalar loop, None-preserving."""
    import numpy as np

    rng = np.random.RandomState(3)
    cents = rng.randn(8, 16)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vals = [rng.randn(16).tolist() for _ in range(50)]
    vals.insert(7, None)
    vals.append([0.0] * 16)                 # zero vector: norm guard path
    for n_cells in (1, 3, 8):
        got = simsearch._assign_cells(vals, cents, n_cells)
        for v, cells in zip(vals, got):
            if v is None:
                assert cells is None
                continue
            x = np.asarray(v, dtype=np.float64)
            nrm = np.linalg.norm(x)
            sims = cents @ (x / nrm if nrm > 1e-12 else x)
            assert cells == [int(c) for c in np.argsort(-sims)[:n_cells]]


def test_bpe_ish_tokens(spark):
    rows = [(1, "Hello world, it's 42 degrees!"), (2, ""), (3, "  a  b "),
            (4, "abc123!?x")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.t for r in df.select(
        "doc_id", textstats.bpe_ish_tokens(F.col("text")).alias("t")).collect()}
    assert got[1] == ["Hello", " world", ",", " it", "'", "s", " 42", " degrees", "!"]
    assert got[2] == []
    assert got[3] == [" a", " b"]          # extra whitespace never merges tokens
    assert got[4] == ["abc", "123", "!?", "x"]


def _brute_jaccard_pairs(texts, threshold, shingle_k):
    """Plain-Python brute force over word k-shingle sets."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    sets = {}
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        if len(toks) >= shingle_k:
            sh = {" ".join(toks[j:j + shingle_k]) for j in range(len(toks) - shingle_k + 1)}
        else:
            sh = set(toks)
        if sh:
            sets[i] = sh
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if inter * frac.denominator >= uni * frac.numerator:
                out.add((a, b, inter, uni))
    return out


def _brute_edit_pairs(texts, tau):
    from levsim import kernels as K

    out = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = K.distance(texts[i], texts[j], score_cutoff=tau)
            if d <= tau:
                out.add((i, j, d))
    return out


@pytest.mark.parametrize("tau,q", [(1, 3), (2, 3), (3, 2), (4, 3), (0, 3)])
def test_edit_distance_join_is_lossless(spark, tau, q):
    """Ed-Join q-gram-prefix self-join == brute force: the occurrence-
    tagged prefix filter and the short-short bucket pass lose no pair and
    verification admits no false positive.  The corpus mixes planted
    typo families (substitute / delete / insert / transpose+append), exact
    dups, strings shorter than q (zero grams), empties, and random
    unrelated strings — short-short, short-long and long-long pairs all
    occur."""
    import random

    from levsim.extras import dedup

    rng = random.Random(tau * 31 + q)
    alpha = "abcdef "
    texts = []
    for i in range(40):
        n = rng.randint(0, 30)
        texts.append("".join(rng.choice(alpha) for _ in range(n)))
    # planted near-duplicates of random hosts, each within small tau
    for k in range(12):
        src = texts[rng.randrange(40)]
        t = list(src)
        if t and k % 4 == 0:
            t[rng.randrange(len(t))] = rng.choice(alpha)       # substitute
        elif t and k % 4 == 1:
            del t[rng.randrange(len(t))]                        # delete
        elif k % 4 == 2:
            t.insert(rng.randrange(len(t) + 1), rng.choice(alpha))  # insert
        else:
            t.append(rng.choice(alpha))                         # append
        texts.append("".join(t))
    texts.append(texts[0])  # exact dup
    texts.append("")
    texts.append("ab")      # shorter than q
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in dedup.edit_distance_join(df, "doc_id", "text", tau=tau, q=q).collect()
    }
    assert got == _brute_edit_pairs(texts, tau)


def test_edit_distance_join_validation(spark):
    from levsim.extras import dedup

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.edit_distance_join(df, "doc_id", "text", tau=-1)
    with pytest.raises(ValueError):
        dedup.edit_distance_join(df, "doc_id", "text", q=0)


@pytest.mark.parametrize("dense_cap", [4096, 0])
@pytest.mark.parametrize("threshold,shingle_k", [(0.5, 2), (0.34, 2), (0.7, 1)])
def test_prefix_jaccard_join_is_lossless(spark, threshold, shingle_k, dense_cap):
    """Prefix-filtered self-join == brute force: the filter loses no pair
    and admits no false positive, at dyadic and non-dyadic thresholds and
    both shingle sizes (k=1 exercises the <k-token fallback).  Runs BOTH
    execution paths: this corpus's tiny vocabulary triggers the round-4
    dense-bitset plan by default (dense_cap=4096); dense_cap=0 forces the
    sparse PPJoin plan — identical output sets required from each."""
    import random

    rng = random.Random(13)
    vocab = ["key", "agg", "row", "scan", "slow", "fast", "table", "value"]
    texts = []
    for i in range(60):
        n = rng.randint(0, 12)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    # seed some near-duplicates and exact dups
    texts[10] = texts[3]
    texts[11] = texts[3] + " extra"
    texts[12] = ""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in dedup.prefix_filtered_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold, shingle_k=shingle_k,
            dense_vocab_cap=dense_cap,
        ).collect()
    }
    want = _brute_jaccard_pairs(texts, threshold, shingle_k)
    assert got == want


def test_prefix_jaccard_dense_switch_and_jacc_parity(spark):
    """The adaptive probe picks the dense plan exactly when vocab and doc
    count fit the caps, and the dense path's full rows (including the
    float jacc) are bit-identical to the sparse path's."""
    import random

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 10)))
             for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    dense = dedup.prefix_filtered_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    sparse = dedup.prefix_filtered_jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, dense_vocab_cap=0)
    # dense plan has a mapInPandas stage; the sparse plan has none
    assert "MapInPandas" in dense._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in sparse._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, dense.collect())) == sorted(map(tuple, sparse.collect()))
    # a docs-cap of 1 must route even a tiny-vocab corpus to the sparse plan
    routed = dedup.prefix_filtered_jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, dense_docs_cap=1)
    assert "MapInPandas" not in routed._jdf.queryExecution().executedPlan().toString()


def test_prefix_jaccard_dense_gate_preserves_id_types(spark):
    """Round-4 ADVICE: the dense-bitset escape must not change the public
    function's id-type behavior.  String ids in the dense regime route to
    the sparse plan (no int64 coercion, no executor crash); integral
    non-long ids keep their dtype on the dense plan's output."""
    import random

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 10)))
             for _ in range(40)]
    # string ids, some non-numeric: dense regime (tiny vocab) must fall
    # through to the sparse plan and keep string ids end-to-end
    sdf = spark.createDataFrame(
        [(f"doc-{i:03d}", t) for i, t in enumerate(texts)],
        "doc_id string, text string",
    )
    out = dedup.prefix_filtered_jaccard_pairs(sdf, "doc_id", "text", threshold=0.5)
    assert "MapInPandas" not in out._jdf.queryExecution().executedPlan().toString()
    rows = out.collect()
    assert rows and all(isinstance(r.id_a, str) for r in rows)
    assert dict(out.dtypes)["id_a"] == "string"
    # int (32-bit) ids: dense plan fires and the output dtype matches input
    idf = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string")
    dout = dedup.prefix_filtered_jaccard_pairs(idf, "doc_id", "text", threshold=0.5)
    assert "MapInPandas" in dout._jdf.queryExecution().executedPlan().toString()
    assert dict(dout.dtypes)["id_a"] == "int"
    # values agree with the string-id run modulo the id mapping
    want = {(int(r.id_a[4:]), int(r.id_b[4:]), r.inter, r.uni) for r in rows}
    assert {(r.id_a, r.id_b, r.inter, r.uni) for r in dout.collect()} == want


def test_prefix_jaccard_join_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.prefix_filtered_jaccard_pairs(df, "doc_id", "text", threshold=0.0)


def test_winnowing_guarantee_and_shapes(spark):
    """The winnowing theorem, exercised: any pair of docs sharing a token
    span of length >= w + k - 1 MUST share a fingerprint (recall 1.0 at
    min_shared=1).  Plus short-doc edges."""
    import random

    rng = random.Random(41)
    vocab = [f"tok{i}" for i in range(200)]
    k, w = 3, 4
    span_len = w + k - 1  # 6 tokens guarantees a shared fingerprint
    shared_span = [rng.choice(vocab) for _ in range(span_len)]
    rows = []
    planted = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if i % 3 == 0 and i >= 3:
            # plant the shared span at a random offset in every 3rd doc
            pos = rng.randint(0, len(words))
            words = words[:pos] + shared_span + words[pos:]
            planted.append(i)
        rows.append((i, " ".join(words)))
    # two exact empty/short edges
    rows.append((100, ""))
    rows.append((101, "one two"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in dedup.winnow_dup_pairs(df, k=k, w=w, min_shared=1).collect()}
    for a in planted:
        for b in planted:
            if a < b:
                assert (a, b) in pairs, (a, b)
    # docs with fewer than k tokens have NO k-grams, hence no fingerprints
    # (defined semantics — tiny exact dups are exact_dup_groups' job); docs
    # with >= k tokens but fewer than w gram hashes get one global-min fp
    df2 = spark.createDataFrame(
        [(1, "just two"), (2, "just two"), (3, "three token doc"),
         (4, "three token doc")], "doc_id long, text string")
    p2 = dedup.winnow_dup_pairs(df2, k=k, w=w).collect()
    assert [(r.id_a, r.id_b, r.shared_fps) for r in p2] == [(3, 4, 1)]
    # empty docs yield no fingerprints at all
    assert dedup.winnow_fingerprints(
        spark.createDataFrame([(1, "")], "doc_id long, text string")).count() == 0
    with pytest.raises(ValueError):
        dedup.winnow_fingerprints(df, k=0)


def test_remove_duplicate_spans(spark):
    """ExactSubstr semantics: a span >= L tokens shared across docs is cut
    everywhere EXCEPT its globally-first (min doc_id, pos) occurrence;
    overlapping duplicated grams merge into one covered region; same-doc
    repetition keeps the earlier copy; short docs pass through."""
    L = 4
    span = "alpha beta gamma delta"          # exactly L tokens
    long_span = "one two three four five six"  # L+2 tokens -> 3 dup grams
    rows = [
        (1, f"start {span} end"),             # first occurrence -> kept
        (2, f"pre {span} post"),              # copy -> span removed
        (3, f"{long_span} tail word here"),   # first occurrence -> kept
        (4, f"intro {long_span} outro"),      # copy -> all 6 tokens removed
        (5, f"{span} mid {span}"),            # same-doc repeat: 2nd copy cut
        (6, "too short"),                     # < L tokens: untouched
        (7, "totally unique text of many tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.remove_duplicate_spans(
        df, span_tokens=L).collect()}
    assert out[1].clean_text == f"start {span} end" and out[1].n_removed == 0
    assert out[2].clean_text == "pre post" and out[2].n_removed == L
    assert out[3].n_removed == 0
    assert out[4].clean_text == "intro outro" and out[4].n_removed == 6
    # doc 5: first span occurrence is pos 0; the doc-1 occurrence of the
    # same gram has smaller doc_id, so BOTH doc-5 copies are non-canonical
    assert out[5].clean_text == "mid" and out[5].n_removed == 2 * L
    assert out[6].clean_text == "too short" and out[6].n_removed == 0
    assert out[7].n_removed == 0
    assert all(out[i].n_tokens == len(rows[i - 1][1].split()) for i in out)
    with pytest.raises(ValueError):
        dedup.remove_duplicate_spans(df, span_tokens=0)


def test_sparse_token_cosine_matches_dense(spark):
    """Sparse (token-join) cosine == dense NumPy cosine; disjoint-vocab
    pairs keep dot=0; zero-token sides are dropped."""
    import math
    from collections import Counter

    texts = [
        "key agg row key",
        "agg key key row row",
        "slow fast table",
        "value",
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (0, 4)], "id_a long, id_b long"
    )
    rows = {
        (r.id_a, r.id_b): r
        for r in dedup.sparse_token_cosine_pairs(df, pairs).collect()
    }
    assert (0, 4) not in rows  # empty-text side dropped
    assert set(rows) == {(0, 1), (0, 2), (1, 3)}
    for (ia, ib), r in rows.items():
        ca, cb = Counter(texts[ia].split()), Counter(texts[ib].split())
        dot = sum(ca[t] * cb[t] for t in ca)
        na2 = sum(v * v for v in ca.values())
        nb2 = sum(v * v for v in cb.values())
        assert (r.dot, r.na2, r.nb2) == (dot, na2, nb2)
        assert abs(r.cos - dot / math.sqrt(na2 * nb2)) < 1e-12
    assert rows[(0, 2)].dot == 0 and rows[(0, 2)].cos == 0.0


def test_ngram_repetition_counts(spark):
    from collections import Counter

    texts = {
        0: "a b a b a b",        # bigrams: ab ba ab ba ab -> top 'a b' x3
        1: "x y z",              # all distinct
        2: "w",                  # < n tokens
        3: "",                   # empty
        4: "q q q q",            # 'q q' x3
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.r.n_grams, r.r.n_distinct, r.r.top_count)
        for r in df.withColumn(
            "r", textstats.ngram_repetition_counts(F.col("text"), 2)
        ).collect()
    }
    for i, t in texts.items():
        toks = [w for w in t.split(" ") if w]
        grams = [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
        c = Counter(grams)
        want = (len(grams), len(c), max(c.values()) if c else 0)
        assert got[i] == want, (i, got[i], want)
    assert got[0] == (5, 2, 3) and got[4] == (3, 1, 3) and got[3] == (0, 0, 0)


def test_html_to_text(spark):
    """Visible-text extraction traps: script bodies with raw '<' and quoted
    closing tags, style content, comments, attribute-laden tags, ordered
    entity decoding (&amp; last => double-escapes decode exactly once),
    and the binary-column decode path."""
    from levsim.extras.webprep import html_to_text

    cases = [
        # (html, expected visible text)
        ("<html><body><p>hello <b>world</b></p></body></html>", "hello world"),
        # script element with raw '<' and a quoted '</div>' inside
        ('<script>if (1<2) { var s = "</div>"; }</script>after', "after"),
        ("<style>p { color: red }</style>styled", "styled"),
        ("<!-- secret\nmultiline -->shown", "shown"),
        ('<a href="http://x.com?a=1&amp;b=2" title="t">link</a>', "link"),
        # entity order: &amp;lt; must become the LITERAL '&lt;', not '<'
        ("&amp;lt;tag&amp;gt; &lt;real&gt; &quot;q&quot; &#39;s&#39;",
         "&lt;tag&gt; <real> \"q\" 's'"),
        ("a&nbsp;&nbsp;b", "a b"),
        ("  spaced\t\n  out  ", "spaced out"),
        ("<SCRIPT>x</SCRIPT>case<STYLE>y</STYLE>", "case"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, html string")
    got = {r.i: r.t for r in df.select("i", html_to_text("html").alias("t")).collect()}
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, (h, got[i], want)
    # binary html column via F.decode
    bdf = spark.createDataFrame(
        [(1, "<body><p>bin&nbsp;text</p></body>".encode())], "i long, html binary")
    out = bdf.select(html_to_text(F.decode("html", "UTF-8")).alias("t")).collect()
    assert out[0].t == "bin text"


def test_html_to_text_refs_numeric(spark):
    """Round-6 VERDICT #8: single-pass charref decoding.  Decimal and hex
    arms decode; '&amp;#65;' stays LITERAL '&#65;' and '&#38;lt;' literal
    '&lt;' (no rescan of replacements — HTML5 rule the sequential column
    chain can't express); invalid code points (0, >10FFFF, surrogates)
    and malformed refs pass through; markup stripping identical to
    html_to_text."""
    from levsim.extras.webprep import html_to_text_refs

    cases = [
        ("<p>&#65;&#66; &#x43; &#x2603;</p>", "AB C ☃"),
        ("&amp;#65; &#38;lt; &amp;amp;", "&#65; &lt; &amp;"),
        ("&#0; &#1114112; &#xD800; &#; &#xZZ;", "&#0; &#1114112; &#xD800; &#; &#xZZ;"),
        ("<script>var a='&#65;';</script>&#97;fter", "after"),
        ("&nbsp;&lt;x&gt;&quot;&apos;", '<x>"\''),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, html string")
    got = {r.i: r.t
           for r in df.select("i", html_to_text_refs("html").alias("t")).collect()}
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, (h, got[i], want)
    # python html.unescape agrees on pure numeric refs (no &amp; interaction)
    import html as pyhtml
    frag = "x &#120; &#x79; z"
    one = df.sparkSession.createDataFrame([(0, frag)], "i long, html string")
    out = one.select(html_to_text_refs("html").alias("t")).collect()[0].t
    assert out == pyhtml.unescape(frag) == "x x y z"


def test_fuzzy_dict_match_symspell(spark):
    """SymSpell recall vs brute force at d=1 and d=2: every (token, word)
    pair within the distance budget must survive the deletion-neighborhood
    join (substitutions, insertions, deletions, transposed-as-2-edits),
    and nothing beyond the budget may appear."""
    from levsim.extras.spellmatch import deletion_variants, fuzzy_dict_match
    from levsim.kernels import distance

    words = ["spark", "table", "join", "shuffle", "filter"]
    toks = ["spark", "sparkk", "spak", "spork", "tabel",  # tabel = transpose (d=2)
            "joins", "jon", "shuffle", "filters", "zzz", "", "s"]
    tdf = spark.createDataFrame([(t,) for t in toks], "tok string")
    ddf = spark.createDataFrame([(w,) for w in words], "word string")
    for d in (1, 2):
        got = {(r.tok, r.match, r.dist)
               for r in fuzzy_dict_match(tdf, ddf, max_dist=d).collect()}
        want = {(t, w, distance(t, w)) for t in set(toks) for w in words
                if distance(t, w) <= d}
        assert got == want, (d, got ^ want)
    # d=2 must include the transposition-as-2-edits case d=1 misses
    d2 = {(r.tok, r.match) for r in fuzzy_dict_match(tdf, ddf, max_dist=2).collect()}
    assert ("tabel", "table") in d2
    d1 = {(r.tok, r.match) for r in fuzzy_dict_match(tdf, ddf, max_dist=1).collect()}
    assert ("tabel", "table") not in d1
    # variant generation edges: empty string has only itself; 1-char both
    rows = spark.createDataFrame([("ab",), ("",), ("x",)], "s string") \
        .select("s", deletion_variants("s", 1).alias("v")).collect()
    vm = {r.s: sorted(r.v) for r in rows}
    assert vm["ab"] == ["a", "ab", "b"] and vm[""] == [""] and vm["x"] == ["", "x"]
    with pytest.raises(ValueError):
        deletion_variants(F.col("s"), 3)


def test_tfidf_cosine_pairs(spark):
    """IDF weighting must rank a rare-token overlap above a stopword
    overlap (raw TF cosine can't tell them apart here), and the integer
    magnitudes must equal a hand computation with the same linear idf."""
    from levsim.extras.dedup import tfidf_cosine_pairs

    docs = [
        (1, "the quaternion"),
        (2, "quaternion also xx"),      # shares ONLY rare 'quaternion'
        (3, "the shovel yy"),           # shares ONLY stopword-ish 'the'
        (4, "the unrelated words"),     # raises df('the') to 3
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r for r in tfidf_cosine_pairs(df, pairs).collect()}
    # raw TF cosine TIES these pairs (each shares exactly one tf-1 token
    # with doc 1, same lengths); idf must break the tie toward the rare one
    assert out[(1, 2)].cos > out[(1, 3)].cos > out[(2, 3)].cos == 0.0
    assert out[(2, 3)].dot == 0
    # hand check: N=4, scale=1000 -> idf: the=4000//3=1333,
    # quaternion=4000//2=2000, singletons=4000
    w1 = {"the": 1333, "quaternion": 2000}
    w2 = {"quaternion": 2000, "also": 4000, "xx": 4000}
    w3 = {"the": 1333, "shovel": 4000, "yy": 4000}
    assert out[(1, 2)].dot == 2000 * 2000
    assert out[(1, 3)].dot == 1333 * 1333
    assert out[(1, 2)].na2 == sum(v * v for v in w1.values())
    assert out[(1, 2)].nb2 == sum(v * v for v in w2.values())
    assert out[(1, 3)].nb2 == sum(v * v for v in w3.values())


def test_tfidf_overflow_guard(spark):
    """Round-6 ADVICE: BIGINT-norm overflow must fail LOUDLY, not wrap.
    A high-tf doc at a huge idf_scale puts a single squared weight past
    int64 — the up-front worst-case validation raises with a suggested
    safe idf_scale instead of returning wrapped norms."""
    from levsim.extras.dedup import tfidf_cosine_pairs

    hot = " ".join(["tok"] * 1000)  # tf = 1e3
    docs = spark.createDataFrame(
        [(1, hot), (2, "tok other")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    # worst weight = 1e3 * 1e7 * 2 = 2e10, squared 4e20 > 2^63-1
    with pytest.raises(ValueError, match="idf_scale"):
        tfidf_cosine_pairs(docs, pairs, idf_scale=10_000_000).collect()
    # the default scale on the same data is fine and exact
    out = tfidf_cosine_pairs(docs, pairs, idf_scale=1000).collect()
    assert len(out) == 1 and out[0].dot > 0


def test_cms_sketch_properties(spark):
    """Count-min guarantees: est >= exact always; est == exact at ample
    width (no collisions among few tokens); linear mergeability
    (sketch(A union B) == cellwise sum of sketch(A) + sketch(B));
    never-seen tokens estimate 0."""
    from levsim.extras.sampling import cms_estimate, cms_token_sketch

    a = spark.createDataFrame(
        [(1, "x x x y z"), (2, "x y w w")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(3, "y y z q")], "doc_id long, text string")
    both = a.unionByName(b)
    exact = {"x": 4, "y": 4, "z": 2, "w": 2, "q": 1}
    toks = spark.createDataFrame([(t,) for t in exact] + [("missing",)],
                                 "tok string")
    for width in (2, 8, 4096):
        sk = cms_token_sketch(both, width=width)
        est = {r.tok: r.est for r in cms_estimate(sk, toks, width=width).collect()}
        for t, c in exact.items():
            assert est[t] >= c, (width, t)
        if width == 4096:
            assert {t: est[t] for t in exact} == exact
            assert est["missing"] == 0
    # mergeability: cellwise sum of the two sketches == sketch of the union
    sa, sb = cms_token_sketch(a), cms_token_sketch(b)
    merged = (sa.unionByName(sb).groupBy("d", "idx")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    su = cms_token_sketch(both)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, su.collect()))
    with pytest.raises(ValueError):
        cms_token_sketch(a, depth=0)


def test_c4_page_flags(spark):
    """C4 §2.2 rules: terminal-punct line retention (rtrim'd), 5-word
    minimum, javascript line drop, post-retention sentence count, curly/
    lorem page markers, and the keep verdict."""
    from levsim.extras.webprep import c4_page_flags

    good = "\n".join([
        "This is a perfectly fine first sentence of prose.",
        "Here is another reasonable sentence with enough words!",
        'And a third one that ends with a quote."',
    ])
    cases = [
        (1, good, (3, 3, 3, False, False, True)),
        # trailing spaces must not defeat the terminal-punct test
        (2, good + "   ", (3, 3, 3, False, False, True)),
        (3, good + "\nEnable JavaScript now to continue reading please.",
         (4, 3, 3, False, False, True)),       # js line dropped, page kept
        (4, good + "\nvar x = { a: 1 };", (4, 3, 3, True, False, False)),
        (5, good + "\nLOREM IPSUM dolor sit amet consectetur adipiscing.",
         (4, 4, 4, False, True, False)),       # case-insensitive marker
        (6, "Only two sentences here which is sad. Second one right here.",
         None),  # single LINE: sentence count comes from kept text
        (7, "no punctuation no keep", (1, 0, 0, False, False, False)),
        (8, "Tiny. Sad.", (1, 0, 0, False, False, False)),  # <5 words line
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases],
                               "doc_id long, text string")
    f = c4_page_flags(F.col("text"))
    got = {r.doc_id: (r.f["n_lines"], r.f["n_kept_lines"], r.f["n_sentences"],
                      r.f["has_curly"], r.f["has_lorem"], r.f["keep"])
           for r in df.select("doc_id", f.alias("f")).collect()}
    for i, _, want in cases:
        if want is not None:
            assert got[i] == want, (i, got[i], want)
    # case 6: one line, two terminal dots -> 2 sentences -> not kept (min 3)
    assert got[6][2] == 2 and got[6][5] is False


def test_select_canonical_policies(spark):
    """Canonical-member selection: longest/shortest/min_id/metric policies,
    deterministic min-id tie-break, string ids, windowless plan."""
    from levsim.consensus import select_canonical

    rows = [
        ("c1", 1, "aaaa"), ("c1", 2, "bb"), ("c1", 3, "aaaa"),  # len tie 1 vs 3
        ("c2", 7, "x"), ("c2", 5, "xyz"),
        ("c3", 9, "solo"),
    ]
    df = spark.createDataFrame(rows, "cluster_id string, doc_id long, norm_text string")
    got = {r.cluster_id: (r.canon_id, r.metric)
           for r in select_canonical(df).collect()}
    assert got == {"c1": (1, 4), "c2": (5, 3), "c3": (9, 4)}
    got_s = {r.cluster_id: r.canon_id
             for r in select_canonical(df, policy="shortest").collect()}
    assert got_s == {"c1": 2, "c2": 7, "c3": 9}
    got_m = {r.cluster_id: r.canon_id
             for r in select_canonical(df, policy="min_id").collect()}
    assert got_m == {"c1": 1, "c2": 5, "c3": 9}
    qdf = df.withColumn("q", F.col("doc_id") * 10)  # metric favors max id
    got_q = {r.cluster_id: r.canon_id
             for r in select_canonical(qdf, policy="metric", metric_col="q").collect()}
    assert got_q == {"c1": 3, "c2": 7, "c3": 9}
    # string ids work (no numeric-negation trick in the implementation)
    sdf = spark.createDataFrame(
        [("c1", "docB", "aa"), ("c1", "docA", "aa")],
        "cluster_id string, doc_id string, norm_text string")
    assert select_canonical(sdf).collect()[0].canon_id == "docA"
    # windowless: no Window node in the plan
    plan = select_canonical(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    with pytest.raises(ValueError):
        select_canonical(df, policy="best")
    with pytest.raises(ValueError):
        select_canonical(df, policy="metric")


def test_select_canonical_null_metrics_and_shortest_abs(spark):
    """Round-6 ADVICE fixes: (a) policy='metric' keeps clusters whose
    metric is all-NULL (min-id fallback, NULL metric) instead of silently
    dropping them; NULL rows in mixed clusters still lose to any value;
    (b) policy='shortest' reports the actual winning length, not the
    negated comparison key."""
    from levsim.consensus import select_canonical

    rows = [
        ("c1", 1, "aa", None), ("c1", 2, "bbb", None),      # all-NULL cluster
        ("c2", 3, "x", None), ("c2", 4, "yy", 5.0),          # mixed
        ("c3", 9, "solo", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "cluster_id string, doc_id long, norm_text string, q double")
    got = {r.cluster_id: (r.canon_id, r.metric)
           for r in select_canonical(df, policy="metric", metric_col="q").collect()}
    assert got == {"c1": (1, None), "c2": (4, 5.0), "c3": (9, 1.0)}
    got_s = {r.cluster_id: (r.canon_id, r.metric)
             for r in select_canonical(df, policy="shortest").collect()}
    # metric is the winning text's REAL length now
    assert got_s == {"c1": (1, 2), "c2": (3, 1), "c3": (9, 4)}


def test_flag_blocked_hosts(spark):
    """Suffix semantics: equal match, subdomain match, NO substring or
    superdomain false positives; empty blocklist blocks nothing."""
    from levsim.extras.webprep import flag_blocked_hosts, host_suffixes

    hosts = [
        (1, "example.com"),           # exact
        (2, "ads.example.com"),       # subdomain
        (3, "a.b.ads.example.com"),   # deep subdomain
        (4, "notexample.com"),        # substring trap: NOT blocked
        (5, "example.com.evil.org"),  # superstring trap: NOT blocked
        (6, "safe.org"),
        (7, "com"),                   # bare TLD: not in list
    ]
    df = spark.createDataFrame(hosts, "doc_id long, host string")
    bl = spark.createDataFrame([("example.com",)], "pattern string")
    got = {r.doc_id: r.blocked for r in flag_blocked_hosts(df, bl).collect()}
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False,
                   6: False, 7: False}
    # row count preserved (left join, no dup on multiple suffix hits)
    bl2 = spark.createDataFrame(
        [("example.com",), ("ads.example.com",)], "pattern string")
    out2 = flag_blocked_hosts(df, bl2)
    assert out2.count() == len(hosts)
    empty = spark.createDataFrame([], "pattern string")
    assert all(not r.blocked for r in flag_blocked_hosts(df, empty).collect())
    sfx = df.where("doc_id = 3").select(
        F.explode(host_suffixes("host")).alias("s")).collect()
    assert [r.s for r in sfx] == [
        "a.b.ads.example.com", "b.ads.example.com", "ads.example.com",
        "example.com", "com"]


def test_html_to_text_fuzz_vs_python_re(spark):
    """Randomized HTML through the Spark column chain vs a byte-identical
    Python `re` mirror — a third regex engine (Java vs RE2 vs Python)
    agreeing on the same pattern chain pins the chain to constructs with
    identical semantics in all three."""
    import random
    import re

    from levsim.extras.webprep import HTML_ENTITIES, html_to_text

    def py_mirror(s: str) -> str:
        s = re.sub(r"(?s)<!--.*?-->", " ", s)
        s = re.sub(r"(?is)<script\b.*?</script\s*>", " ", s)
        s = re.sub(r"(?is)<style\b.*?</style\s*>", " ", s)
        s = re.sub(r"(?s)<[^>]*>", " ", s)
        for ent, rep in HTML_ENTITIES:
            s = s.replace(ent, rep)
        return re.sub(r"\s+", " ", s).strip()

    rng = random.Random(23)
    frags = [
        "plain words ", "<b>", "</b>", "<p class='x'>", "<!-- hidden -->",
        "<script>var a = '</div>';</script>", "<style>p{}</style>",
        "&amp;", "&lt;", "&amp;lt;", "&nbsp;", "&#39;", "more text",
        "<SCRIPT a=b>1<2</SCRIPT >", "\n", "   ", "<br/>", "< notatag",
        "text>stray", "<!---->", "&unknown;", "a<b", '"quoted"',
    ]
    cases = []
    for i in range(60):
        n = rng.randint(0, 12)
        cases.append((i, "".join(rng.choice(frags) for _ in range(n))))
    df = spark.createDataFrame(cases, "i long, html string")
    got = {r.i: r.t for r in df.select("i", html_to_text("html").alias("t")).collect()}
    for i, h in cases:
        assert got[i] == py_mirror(h), (h, got[i], py_mirror(h))


def test_canonical_url(spark):
    from levsim.extras.webprep import canonical_url

    cases = {
        "HTTPS://WWW.Example.com/Path/x?utm_source=a&b=2&a=1&fbclid=zz#frag":
            "https://example.com/Path/x?a=1&b=2",
        "http://site.org": "http://site.org/",
        "https://a.b/p?utm_x=1": "https://a.b/p",
        "https://www.c.d/e?gclid=1&z=9&y=8#x": "https://c.d/e?y=8&z=9",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r.url: r.c for r in df.select("url", canonical_url(F.col("url")).alias("c")).collect()}
    assert got == cases


def test_dataset_split_deterministic_and_proportional(spark):
    from levsim.extras.webprep import dataset_split, split_bucket

    df = spark.range(20000)
    out = df.select(
        "id", split_bucket(F.col("id")).alias("b"), dataset_split(F.col("id")).alias("s")
    )
    counts = {r.s: r["count"] for r in out.groupBy("s").count().collect()}
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    assert abs(counts["test"] / 20000 - 0.05) < 0.01
    # stable across repartitioning (no RNG, no partition ids)
    again = {
        r.id: r.s
        for r in df.repartition(17).select(
            "id", dataset_split(F.col("id")).alias("s")
        ).collect()
    }
    first = {r.id: r.s for r in out.select("id", "s").collect()}
    assert first == again
    # different seed -> different assignment (not a constant function)
    other = {
        r.id: r.s
        for r in df.select("id", dataset_split(F.col("id"), seed="v2").alias("s")).collect()
    }
    assert other != first


def test_pii_redaction(spark):
    from levsim.extras.webprep import pii_counts, redact_pii

    t = "mail bob@x.co see https://y.z/q?e=a@b.cd ref 1234567 ok 12345"
    df = spark.createDataFrame([(t,)], "t string")
    r = df.select(
        redact_pii(F.col("t")).alias("r"), pii_counts(F.col("t")).alias("c")
    ).collect()[0]
    # the URL (with its embedded address) goes first, 5-digit run survives
    assert r.r == "mail <EMAIL> see <URL> ref <NUM> ok 12345"
    assert (r.c.n_urls, r.c.n_emails, r.c.n_nums) == (1, 1, 1)


def test_bounded_topk_matches_naive_window(spark):
    import random

    from levsim.extras.sampling import bounded_topk_per_group

    rng = random.Random(5)
    rows = [(f"g{i % 7}", rng.randint(0, 1000), i) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v long, pay long").repartition(13)
    got = {
        r.g: [(s.v, s.pay) for s in r.topk]
        for r in bounded_topk_per_group(df, ["g"], "v", 4, ["pay"]).collect()
    }
    want = {}
    for g, v, pay in rows:
        want.setdefault(g, []).append((v, pay))
    want = {g: sorted(vs)[:4] for g, vs in want.items()}
    assert got == want
    with pytest.raises(ValueError):
        bounded_topk_per_group(df, ["g"], "v", 0)


def _hll_python_mirror(values, p):
    """Exact integer replication of hll_components for one group."""
    import hashlib

    from levsim.extras.sampling import _hll_alpha_ppm

    m, w = 1 << p, 60 - p
    buckets = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        bkt, sfx = h // (1 << w), h % (1 << w)
        rho = (w + 1) if sfx == 0 else w - sfx.bit_length() + 1
        buckets[bkt] = max(buckets.get(bkt, 0), rho)
    s = sum(1048576 // (1 << min(r, 21)) for r in buckets.values())
    s += (m - len(buckets)) * 1048576
    est = (_hll_alpha_ppm(m) * m * m * 1048576) // (1000000 * s)
    return len(buckets), s, est


@pytest.mark.parametrize("p", [4, 8])
def test_hll_components_exact_mirror_and_accuracy(spark, p):
    """hll_components == a driver-side exact integer replication (every
    bucket, the scaled indicator sum, and the floor-div estimate), and the
    raw estimate lands within 4 standard errors (1.04/sqrt(m)) of the true
    cardinality in the large-range regime."""
    from levsim.extras.sampling import hll_components

    vals_a = [f"v{i}" for i in range(5000)]
    vals_b = [f"x{i}" for i in range(30)]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    rows += [("a", v) for v in vals_a[:700]]  # duplicates must not matter
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r.g: r for r in hll_components(df, ["g"], "v", p=p).collect()}
    for g, vals in (("a", vals_a), ("b", vals_b)):
        nz, s, est = _hll_python_mirror(vals, p)
        r = out[g]
        assert (r.nonzero_buckets, r.s_scaled, r.est_distinct) == (nz, s, est)
        assert r.m == 1 << p
    m = 1 << p
    rel = abs(out["a"].est_distinct - 5000) / 5000
    assert rel <= 4 * 1.04 / (m ** 0.5)


def test_hll_components_p_validation(spark):
    from levsim.extras.sampling import hll_components

    df = spark.createDataFrame([("a", "x")], "g string, v string")
    with pytest.raises(ValueError):
        hll_components(df, ["g"], "v", p=3)
    with pytest.raises(ValueError):
        hll_components(df, ["g"], "v", p=11)


def test_kmv_sketch_exact_and_estimate_branches(spark):
    from levsim.extras.sampling import kmv_distinct_sketch

    rows = [("small", f"v{i}") for i in range(5)] + [
        ("big", f"w{i}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, val string")
    out = {r.g: r for r in kmv_distinct_sketch(df, ["g"], "val", k=16).collect()}
    # < k distinct -> exact count
    assert out["small"].n_kept == 5 and out["small"].est_distinct == 5.0
    # >= k -> estimate within 50% at k=16 (statistical, seed-free but
    # md5-deterministic: this asserts THE value the oracle also computes)
    assert out["big"].n_kept == 16
    assert 250 <= out["big"].est_distinct <= 1000
    # duplicates don't change the sketch (set semantics)
    df2 = df.union(df)
    out2 = {r.g: r.kth_hash for r in kmv_distinct_sketch(df2, ["g"], "val", k=16).collect()}
    assert out2 == {g: r.kth_hash for g, r in out.items()}


def test_sample_per_group_deterministic(spark):
    from levsim.extras.sampling import sample_per_group

    df = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("g"), F.col("id")
    )
    a = {(r.g, r.id) for r in sample_per_group(df, ["g"], "id", 5).collect()}
    b = {(r.g, r.id) for r in sample_per_group(df.repartition(11), ["g"], "id", 5).collect()}
    assert a == b and len(a) == 20
    c = {(r.g, r.id) for r in sample_per_group(df, ["g"], "id", 5, seed="other").collect()}
    assert c != a


def test_chunk_documents(spark):
    from levsim.extras.textstats import chunk_documents

    texts = {
        0: " ".join(f"w{i}" for i in range(20)),  # 20 toks -> chunks at 0,8,16
        1: "a b c",                                # shorter than window -> 1 chunk
        2: "",                                     # no tokens -> no rows
        3: " ".join(f"x{i}" for i in range(8)),    # exactly one stride -> 1 chunk
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=0)
    rows = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens) for r in out.collect()}
    assert {k[0] for k in rows} == {0, 1, 3}
    assert rows[(0, 0)][0].split() == [f"w{i}" for i in range(8)]
    assert rows[(0, 1)][0].split() == [f"w{i}" for i in range(8, 16)]
    assert rows[(0, 2)] == ("w16 w17 w18 w19", 4)  # remainder chunk
    assert rows[(1, 0)] == ("a b c", 3)
    assert rows[(3, 0)][1] == 8 and (3, 1) not in rows
    # overlap: stride = chunk - overlap
    ov = chunk_documents(df.where(F.col("doc_id") == 0), "doc_id", "text",
                         chunk_tokens=8, overlap=4)
    chunks = [r.chunk_text.split() for r in ov.orderBy("chunk_id").collect()]
    # last window starts at ceil((n-c)/s)*s = 12 and already reaches token
    # 19, so coverage is complete with 4 windows (no redundant 5th)
    assert [c[0] for c in chunks] == ["w0", "w4", "w8", "w12"]
    assert chunks[-1][-1] == "w19"  # full coverage
    assert all(len(c) == 8 for c in chunks)
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_global_running_sum_matches_naive(spark):
    import random

    from levsim.extras.sampling import global_running_sum

    rng = random.Random(23)
    rows = [(i, rng.randint(0, 50)) for i in range(211)]
    df = spark.createDataFrame(rows, "doc_id long, w long").repartition(9)
    got = {r.doc_id: r.cum_before for r in global_running_sum(df, ["doc_id"], "w", num_ranges=7).collect()}
    acc, want = 0, {}
    for i, w in sorted(rows):
        want[i] = acc
        acc += w
    assert got == want


def test_assign_token_shards(spark):
    from levsim.extras.sampling import assign_token_shards

    texts = [(i, " ".join(["t"] * (5 + i % 3))) for i in range(40)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = sorted(assign_token_shards(df, "doc_id", "text", shard_tokens=20).collect(),
                 key=lambda r: r.doc_id)
    acc = 0
    for r in out:
        assert r.cum_before == acc and r.shard_id == acc // 20
        acc += r.n_tokens
    # shard ids are nondecreasing in doc order and contiguous from 0
    sids = [r.shard_id for r in out]
    assert sids == sorted(sids) and sids[0] == 0
    assert set(sids) == set(range(max(sids) + 1))
    with pytest.raises(ValueError):
        assign_token_shards(df, "doc_id", "text", shard_tokens=0)


def test_shard_manifests(spark):
    from levsim.extras.sampling import shard_manifests

    texts = [(i, " ".join(["t"] * 7)) for i in range(30)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    man = sorted(shard_manifests(df, "doc_id", "text", shard_tokens=21).collect(),
                 key=lambda r: r.shard_id)
    # 7 tokens/doc, 21/shard -> exactly 3 docs per shard, 10 shards
    assert len(man) == 10
    for i, r in enumerate(man):
        assert (r.n_docs, r.total_tokens) == (3, 21)
        assert (r.first_id, r.last_id) == (3 * i, 3 * i + 2)
    # checksum: order-independent, content-sensitive
    again = {r.shard_id: r.checksum
             for r in shard_manifests(df.repartition(7), "doc_id", "text", 21).collect()}
    assert again == {r.shard_id: r.checksum for r in man}
    changed = df.withColumn(
        "text", F.when(F.col("doc_id") == 4, F.lit("t t t t t t x")).otherwise(F.col("text"))
    )
    diff = {r.shard_id: r.checksum
            for r in shard_manifests(changed, "doc_id", "text", 21).collect()}
    base = {r.shard_id: r.checksum for r in man}
    assert {s for s in base if diff[s] != base[s]} == {1}  # only doc 4's shard


def test_ngram_overlap_counts_exact(spark):
    """Decontamination overlap on a hand-computable corpus."""
    from levsim.extras.textstats import ngram_overlap_counts

    probes = spark.createDataFrame(
        [(0, "a b c d e"), (1, "x y z w v"), (2, "")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, "a b c d q"),      # shares 3-grams 'a b c', 'b c d' with probe 0
         (11, "b c d e f"),      # shares 'b c d', 'c d e'
         (12, "a b q c d"),      # shares nothing contiguous of length 3
         (13, "x y z")],         # shares 'x y z' (1 gram) with probe 1
        "doc_id long, text string")
    got = {r["probe_id"]: (r["n_docs_hit"], r["max_shared"], r["total_shared"])
           for r in ngram_overlap_counts(corpus, probes, n=3, min_shared=2).collect()}
    # probe 0 hit by docs 10 and 11 (2 shared grams each); probe 1's only
    # match (doc 13) shares 1 gram < min_shared; probe 2 empty
    assert got == {0: (2, 2, 4)}
    got1 = {r["probe_id"]: (r["n_docs_hit"], r["max_shared"])
            for r in ngram_overlap_counts(corpus, probes, n=3, min_shared=1).collect()}
    assert got1[1] == (1, 1)


def test_bpe_first_merge_counts_exact(spark):
    """First-merge pair statistic on a corpus where counts are manual:
    'aaab' contributes pairs aa,aa,ab; word frequency weights apply."""
    from levsim.extras.textstats import bpe_first_merge_counts

    df = spark.createDataFrame(
        [(1, "aaab aaab cd"), (2, "cd x")], "doc_id long, text string")
    rows = [(r["pair"], r["cnt"]) for r in
            bpe_first_merge_counts(df, "text", top_k=10).collect()]
    # aa: 2 per 'aaab' * wn 2 = 4; ab: 1 * 2 = 2; cd: wn 2 -> 2; x: len 1 none
    assert rows == [("aa", 4), ("ab", 2), ("cd", 2)]
    # determinism of the tie order: ab before cd at equal counts


def test_bigram_fluency_scores_exact(spark):
    """LM fluency on a hand-computable train/score split.

    Train: "a b a b" + "a c"  ->  unigrams a:3 b:2 c:1, total 6;
    bigrams (a,b):2 (b,a):1 (a,c):1.
    Score "a b c": (a,b) seen -> 1e6*2//3 = 666666;
                   (b,c) unseen -> backoff 400000*1//6 = 66666.
    Score "z z":   one bigram position (z,z), unseen, z OOV -> 0.
    """
    from levsim.extras.textstats import bigram_fluency_scores

    train = spark.createDataFrame(
        [(100, "a b a b"), (101, "a c")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(0, "a b c"), (1, "z z"), (2, "solo")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["n_hits"], r["fluency_ppm"])
           for r in bigram_fluency_scores(train, score).collect()}
    assert got[0] == (2, 1, 666666 + 66666)
    assert got[1] == (1, 0, 0)
    assert 2 not in got  # single-token doc has no bigram positions


def test_remove_repeated_lines_exact(spark):
    """C4 boilerplate removal on a hand-computable corpus: a line in >= 3
    docs is dropped, empty lines never count as boilerplate, order and
    joining survive, all-boilerplate docs come back empty."""
    from levsim.extras.webprep import remove_repeated_lines

    bp = "ACCEPT COOKIES"
    rows = [(i, f"body {i}\n{bp}\n\nfooter {i % 2}") for i in range(4)]
    rows.append((9, bp))  # a doc that is ONLY boilerplate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_repeated_lines(df, min_docs=3).collect()}
    for i in range(4):
        # 'footer 0'/'footer 1' occur in only 2 docs each -> kept
        assert out[i]["n_lines"] == 4 and out[i]["n_kept"] == 3
        assert out[i]["clean_text"] == f"body {i}\n\nfooter {i % 2}"
    assert out[9]["n_lines"] == 1 and out[9]["n_kept"] == 0
    assert out[9]["clean_text"] == ""


def test_dup_span_stats_exact(spark):
    """Span duplication on a tiny corpus: docs 1 and 2 share one 3-token
    window; doc 3 shares none."""
    from levsim.extras.dedup import dup_span_stats

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x a b c"), (3, "p q r s")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"],
                         r["n_distinct"], r["n_dup_distinct"])
           for r in dup_span_stats(df, window_tokens=3).collect()}
    # doc 1 windows: 'a b c', 'b c d'; doc 2: 'x a b', 'a b c'
    assert got[1] == (2, 1, 2, 1)
    assert got[2] == (2, 1, 2, 1)
    assert got[3] == (2, 0, 2, 0)


def test_train_bpe_sennrich_example(spark):
    """The classic Sennrich et al. corpus (low/lower/newest/widest with
    frequencies 5/2/6/3): first merges must be (e,s) count 9, (es,t) 9,
    (est,</w>) 9 — hand-derivable from the paper's worked example."""
    from levsim.extras.textstats import train_bpe

    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges = train_bpe(df, n_merges=3)
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>")]
    # more merges keep being deterministic and well-formed
    more = train_bpe(df, n_merges=10)
    assert more[:3] == merges and len(more) <= 10


def test_apply_bpe_reconstructs_and_compresses(spark):
    """apply_bpe replays training merges: joined tokens minus the marker
    reconstruct each word exactly, trained words compress to fewer symbols
    than characters, unseen words fall back toward characters."""
    from levsim.extras.textstats import apply_bpe, train_bpe

    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    train = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges = train_bpe(train, n_merges=10)
    score = spark.createDataFrame(
        [(1, "newest lowest zebra"), (2, None)], "doc_id long, text string")
    rows = {r["doc_id"]: r["bpe_tokens"]
            for r in apply_bpe(score, merges).collect()}
    assert rows[2] is None
    toks = rows[1]
    # reconstruction: concatenating and splitting on the marker gives words
    assert "".join(toks).replace("</w>", " ").strip() == "newest lowest zebra"
    # 'newest' was trained: it must compress below its 7 char+marker symbols
    first_word_len = toks.index(next(t for t in toks if t.endswith("</w>"))) + 1
    assert first_word_len < 7
    # round-4 ADVICE: with_counts=True 3-tuples must be accepted unchanged
    merges3 = train_bpe(train, n_merges=10, with_counts=True)
    assert all(len(m) == 3 for m in merges3)
    rows3 = {r["doc_id"]: r["bpe_tokens"]
             for r in apply_bpe(score, merges3).collect()}
    assert rows3 == rows


def test_round4_ops_empty_input_edges(spark):
    """Degenerate inputs must degrade gracefully, not crash: empty corpora,
    whitespace-only and sub-window texts."""
    from levsim.extras.dedup import dup_span_stats
    from levsim.extras.textstats import (
        apply_bpe, bigram_fluency_scores, ngram_overlap_counts, train_bpe,
    )
    from levsim.extras.webprep import remove_repeated_lines

    empty = spark.createDataFrame([], "doc_id long, text string")
    tiny = spark.createDataFrame([(1, "  "), (2, "one")], "doc_id long, text string")

    assert train_bpe(empty) == []
    assert train_bpe(tiny) == []  # no pair reaches count 2
    rows = {r["doc_id"]: r["bpe_tokens"]
            for r in apply_bpe(tiny, []).collect()}
    assert rows[2] == ["o", "n", "e", "</w>"] and rows[1] == []
    assert ngram_overlap_counts(empty, tiny, n=3).count() == 0
    assert ngram_overlap_counts(tiny, empty, n=3).count() == 0
    assert bigram_fluency_scores(empty, tiny).count() == 0
    assert bigram_fluency_scores(tiny, empty).count() == 0
    assert dup_span_stats(tiny, window_tokens=3).count() == 0
    out = {r["doc_id"]: r for r in remove_repeated_lines(tiny, min_docs=2).collect()}
    assert out[1]["n_lines"] == 1 and out[1]["clean_text"] == "  "
