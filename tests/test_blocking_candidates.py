"""Unit tests for blocking, candidates (the rank cap), prefilter exactness,
normalization, and the StringMatcher shim."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from levsim import blocking, candidates, kernels as K, normalize
from levsim.stringmatcher import StringMatcher


def test_url_host(spark):
    df = spark.createDataFrame(
        [("http://www.Example.com/a/b",), ("https://sub.host.org:8080/x?q=1",)], ["url"]
    )
    got = [r.h for r in df.select(normalize.url_host("url").alias("h")).collect()]
    assert got == ["example.com", "sub.host.org:8080"] or got[0] == "example.com"


def test_token_sort_key(spark):
    df = spark.createDataFrame([("beta alpha  Gamma",), ("gamma beta alpha",)], ["t"])
    got = [r.k for r in df.select(normalize.token_sort_key("t").alias("k")).collect()]
    assert got[0] == got[1] == "alpha beta gamma"


def test_block_keys_passes(spark):
    df = spark.createDataFrame(
        [("u1", "hello world foo bar baz", "example.com"),
         ("u2", "bar foo hello world baz", "example.com")],
        ["url", "norm_text", "host"],
    )
    blocks = blocking.add_block_keys(df, id_col="url")
    passes = {r.block_pass for r in blocks.collect()}
    assert passes == {"host", "minhash", "tokensort"}
    # tokensort: same tokens different order -> same key
    tk = blocks.where(F.col("block_pass") == "tokensort").collect()
    keys = {}
    for r in tk:
        keys.setdefault(r.block_key, set()).add(r.doc_id)
    assert {"u1", "u2"} in keys.values()


def _capped_pairs(rows, cap):
    """The candidate rule in Python: per key, every id_a < id_b pair of its
    ``cap`` lowest distinct ids, one row per pair with the least
    (block_pass, block_key)."""
    blocks = {}
    for doc, bpass, key in rows:
        blocks.setdefault(key, set()).add((doc, bpass))
    prov = {}
    for key, members in blocks.items():
        ids = sorted({d for d, _ in members})[:cap]
        bpass = min(p for _, p in members)
        for i, da in enumerate(ids):
            for db in ids[i + 1:]:
                prov[da, db] = min(prov.get((da, db), (bpass, key)), (bpass, key))
    return {(a, b, bp, bk) for (a, b), (bp, bk) in prov.items()}


def _reference_pairs(deltas, cap):
    """Pure-Python replay of the per-key stop-key rule, one dict per
    catch-up: {(id_a, id_b): smallest key}.  Per key, the sorted new ids
    are admitted while the key's seen count is below the cap, and each
    admitted id pairs with every id seen before it."""
    seen, out = {}, []
    for delta in deltas:
        emitted = {}
        for key, ids in delta.items():
            s = seen.setdefault(key, [])
            for nid in sorted(ids):
                if len(s) >= cap:
                    break
                for old in s:
                    pair = (min(old, nid), max(old, nid))
                    emitted[pair] = min(emitted.get(pair, key), key)
                s.append(nid)
        out.append(emitted)
    return out


def _pair_set(pairs):
    return {(r.id_a, r.id_b, r.block_pass, r.block_key) for r in pairs.collect()}


def test_candidate_cap_bounds_block_size(spark):
    # a mega-block of 100 docs with cap 10 pairs its 10 lowest ids only;
    # keys of 2, 25 (duplicate rows included) and 1 distinct id ride along
    rows = ([(f"d{i:03d}", "p1", "megablock") for i in range(100)]
            + [(f"e{i % 25:03d}", "minhash", "m:big") for i in range(30)]
            + [("a", "host", "h:ok"), ("b", "host", "h:ok"), ("b", "host", "h:ok")]
            + [("c", "host", "h:one"), ("c", "host", "h:one")])
    blocks = spark.createDataFrame(rows, ["doc_id", "block_pass", "block_key"])
    pairs = candidates.candidate_pairs(blocks, max_block_size=10)
    got = _pair_set(pairs)
    mega = {(a, b) for a, b, _, k in got if k == "megablock"}
    assert mega == {(f"d{i:03d}", f"d{j:03d}") for i in range(10) for j in range(i + 1, 10)}
    assert len(mega) == 45
    assert ("a", "b", "host", "h:ok") in got
    assert not any(k == "h:one" for *_, k in got)
    assert all(a < b for a, b, _, _ in got)
    assert pairs.count() == len(got)  # one row per pair
    assert got == _capped_pairs(rows, cap=10)

    # with a batch column a key pairs the rows of its latest batch with the
    # rows ranked before them, the catch-up's replay: old z9 sorts after
    # the new a and c, y and e0 rank past the cap, and (a, c) is in two keys
    deltas = [{"h:k": {"b", "z9"}, "m:x": {"e1", "e2"}},
              {"h:k": {"a", "c", "y"}, "m:x": {"a", "c", "e0"}}]
    passes = {"h:k": "host", "m:x": "minhash"}
    batched = [(d, passes[k], k, b) for b, delta in enumerate(deltas)
               for k, ids in delta.items() for d in sorted(ids)]
    ref = _reference_pairs(deltas, cap=4)
    first = spark.createDataFrame([r[:3] for r in batched if r[3] == 0],
                                  ["doc_id", "block_pass", "block_key"])
    both = spark.createDataFrame(batched, ["doc_id", "block_pass", "block_key", "batch"])
    for blocks, want in ((first, ref[0]), (both, ref[1])):
        got = _pair_set(candidates.candidate_pairs(blocks, max_block_size=4))
        assert {(a, b): k for a, b, _, k in got} == want
        assert len(got) == len(want) and all(bp == passes[k] for *_, bp, k in got)
    assert ("a", "z9") in ref[1] and ref[1]["a", "c"] == "h:k" and len(ref[1]) == 9


def test_candidate_multi_pass_dedup(spark):
    rows = [
        ("a", "host", "h:x"), ("b", "host", "h:x"),
        ("a", "minhash", "m:1"), ("b", "minhash", "m:1"), ("c", "minhash", "m:1"),
        ("a", "tokensort", "t:1"), ("c", "tokensort", "t:1"),
    ]
    blocks = spark.createDataFrame(rows, ["doc_id", "block_pass", "block_key"])
    pairs = candidates.candidate_pairs(blocks, max_block_size=10)
    got = _pair_set(pairs)
    assert pairs.count() == 3  # deduped across passes
    assert ("a", "b", "host", "h:x") in got  # lexicographically first provenance
    assert got == _capped_pairs(rows, cap=10)


def test_prefilter_bound_is_exact():
    # no pair that can reach tau is ever pruned (the bound is an upper bound)
    rng = random.Random(5)
    tau = 0.8
    for _ in range(500):
        a = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 30)))
        b = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 30)))
        r = K.ratio(a, b)
        lensum = len(a) + len(b)
        bound = 1.0 if lensum == 0 else 2.0 * min(len(a), len(b)) / lensum
        assert r <= bound + 1e-12
        if r >= tau:
            assert bound >= tau  # kept by the prefilter


def test_stringmatcher_shim():
    sm = StringMatcher(seq1="lewenstein", seq2="levenshtein")
    assert sm.distance() == 2
    assert abs(sm.ratio() - K.ratio("lewenstein", "levenshtein")) == 0
    assert sm.quick_ratio() == sm.ratio()
    assert abs(sm.real_quick_ratio() - 20 / 21) < 1e-12
    assert sm.get_editops() == K.editops("lewenstein", "levenshtein")
    assert sm.get_matching_blocks()[-1] == (10, 11, 0)
    sm.set_seq2("lewenstein")
    assert sm.distance() == 0 and sm.ratio() == 1.0


def test_minhash_jaccard_sensitivity():
    # band collision probability tracks jaccard similarity
    from levsim.blocking import band_keys, minhash_signature

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated text about database systems and query engines"
    sb = set(band_keys(minhash_signature(base, 64, 3, 1), 4))
    sn = set(band_keys(minhash_signature(near, 64, 3, 1), 4))
    sf_ = set(band_keys(minhash_signature(far, 64, 3, 1), 4))
    assert len(sb & sn) > 0       # near dup shares bands
    assert len(sb & sf_) == 0     # unrelated text shares none


def test_sorted_neighborhood_matches_naive_window(spark):
    """Distributed SNM (range ranks + bucket join) == the textbook
    single-window formulation, at several window sizes and range counts."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from levsim.blocking import sorted_neighborhood_pairs

    rng = random.Random(7)
    rows = [(i, "".join(rng.choice("abcd") for _ in range(4))) for i in range(83)]
    df = spark.createDataFrame(rows, "doc_id long, sk string")

    for window, nrng in [(2, 3), (4, 5), (6, 16)]:
        got = {
            (r.id_a, r.id_b, r.gap)
            for r in sorted_neighborhood_pairs(
                df, "doc_id", "sk", window=window, num_ranges=nrng
            ).collect()
        }
        ranked = df.withColumn(
            "rnk", F.row_number().over(Window.orderBy("sk", "doc_id")) - 1
        )
        a = ranked.select(F.col("doc_id").alias("id_a"), F.col("rnk").alias("ra"))
        b = ranked.select(F.col("doc_id").alias("id_b"), F.col("rnk").alias("rb"))
        want = {
            (r.id_a, r.id_b, r.rb - r.ra)
            for r in a.crossJoin(b)
            .where((F.col("rb") - F.col("ra")).between(1, window - 1))
            .collect()
        }
        assert got == want, f"window={window} num_ranges={nrng}"


def test_global_sort_ranks_dense_and_ordered(spark):
    from pyspark.sql import functions as F

    from levsim.blocking import global_sort_ranks

    rows = [(i, f"k{i % 10}") for i in range(57)]
    df = spark.createDataFrame(rows, "doc_id long, sk string")
    out = global_sort_ranks(df, ["sk", "doc_id"], num_ranges=7).collect()
    assert sorted(r.rnk for r in out) == list(range(57))
    by_rank = sorted(out, key=lambda r: r.rnk)
    assert [(r.sk, r.doc_id) for r in by_rank] == sorted(
        (r.sk, r.doc_id) for r in out
    )


def test_sorted_neighborhood_window_validation(spark):
    import pytest as _pytest

    from levsim.blocking import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a")], "doc_id long, sk string")
    with _pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "doc_id", "sk", window=1)


def test_phonetic_key_golden(spark):
    """Classic Soundex vectors where the variant agrees, plus the
    documented h/w-rule divergence and degenerate inputs."""
    from levsim.normalize import phonetic_key

    cases = {
        "Robert": "R163",
        "Rupert": "R163",
        "Jackson": "J250",
        "Tymczak": "T522",
        "Pfister": "P236",
        "Ashcraft": "A226",  # classic A261: h/w exception omitted (documented)
        "": "",
        "123": "",
        "A": "A000",
        "robert": "R163",  # case-insensitive
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    got = {r.w: r.k for r in df.select("w", phonetic_key(F.col("w")).alias("k")).collect()}
    assert got == cases


def test_nysiis_key_golden(spark):
    """Canonical Taft examples the chain reproduces exactly, plus typo
    pairs that must collide (the blocking property) and degenerates."""
    from levsim.normalize import nysiis_key

    cases = {
        "KNIGHT": "NAGT",
        "knight": "NAGT",      # case-insensitive
        "night": "NAGT",       # KN/N collision — the point of the encoder
        "PHILLIPSON": "FALAPS",
        "BROWN": "BRAN",
        "BRAUN": "BRAN",       # phonetic collision
        "Schmidt": "SNAD",
        "PFISTER": "FASTAR",
        "MacDonald": "MCDANA",
        "O'Brien": "OBRAN",
        "": "",
        "42!": "",
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    got = {r.w: r.k for r in df.select("w", nysiis_key(F.col("w")).alias("k")).collect()}
    assert got == cases


def test_nysiis_cross_engine_parity(spark):
    """The single rule table rendered to Spark and to DuckDB must produce
    byte-identical keys — fuzzed over names and random apostrophe/space
    strings (the oracle-by-construction property)."""
    import random

    duckdb = pytest.importorskip("duckdb")
    pd = pytest.importorskip("pandas")

    from levsim.normalize import nysiis_key, nysiis_sql

    rng = random.Random(5)
    names = ["KNIGHT", "MacDonald", "Phillipson", "Schmidt", "evEning",
             "WASHINGTON", "AHAB", "shh", "Lawsonw", "day", "DAYE", ""]
    names += ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz '")
                      for _ in range(rng.randrange(0, 14))) for _ in range(200)]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = [r.k for r in df.select(nysiis_key("name").alias("k")).collect()]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"name": names}))
    want = [r[0] for r in con.sql(f"select {nysiis_sql('name')} from t").fetchall()]
    assert got == want


def test_osa_affine_prefilter_bounds_are_exact():
    """The affine-gap cost of a pure run is open + extend per char."""
    from levsim import kernels as K

    # tightness: 'abc' vs 'abcxx' costs exactly open + 2*extend
    assert K.affine_gap_distance("abc", "abcxx") == 2 + 2
