"""Text analysis for training-data curation — all pure Spark column
expressions (JVM-side, whole-stage codegen, SQL-oracle-able):

- token / char counts, avg word length
- quality score: punctuation ratio, alpha ratio, stopword ratio,
  repetition ratio (composite in [0,1])
- language id: stopword-hit argmax over a fixed per-language lexicon
  (n-gram-free heuristic; deterministic)
- document fingerprint: polynomial rolling hash over code points
  (sequential fold -> identical in any engine that folds left-to-right)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "es": ["el", "la", "de", "que", "los", "por", "con", "una", "para", "es"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "des", "pour", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他", "这", "中"],
}

_FP_MOD = 1_000_000_007
_FP_MULT = 31


def tokens(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col))


#: GPT-2-style pretokenizer alternation, simplified to be LOOKAHEAD-FREE so
#: the identical pattern runs under both Java regex (Spark) and RE2
#: (DuckDB, which rejects lookahead): an optional leading space glued to a
#: letter run, digit run, or symbol run.  Whitespace runs beyond the glued
#: space are skipped (they separate tokens; the reference GPT-2 pattern
#: additionally emits whitespace tokens, which pure counting doesn't need).
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_tokens(col) -> Column:
    """BPE-style pretokens (array<string>) — the subword-boundary token
    unit LLM-data pipelines budget by, vs the whitespace tokens() above."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def char_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def avg_word_len(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c)
    total = F.length(F.regexp_replace(c, r"\s+", ""))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def alpha_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return F.when(n > 0, alpha.cast("double") / n).otherwise(F.lit(0.0))


def stopword_hits(col, lang: str) -> Column:
    """Number of tokens that are stopwords of the given language."""
    toks = tokens(col)
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))


def stopword_ratio(col, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col, lang).cast("double") / n).otherwise(F.lit(0.0))


def repetition_ratio(col) -> Column:
    """1 - distinct_tokens/total_tokens: high values flag boilerplate/spam."""
    toks = tokens(col)
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    return F.when(n > 0, 1.0 - d.cast("double") / n).otherwise(F.lit(0.0))


def ngram_repetition_counts(col, n: int = 2) -> Column:
    """Gopher-style (Rae et al. 2021, public) n-gram repetition signals as
    EXACT integers — struct(n_grams, n_distinct, top_count): total word
    n-grams, distinct word n-grams, and the occurrence count of the most
    frequent n-gram.  Boilerplate/spam shows up as top_count >> 1 or
    n_distinct << n_grams; ratios are left to the caller so the gate never
    compares floats.  Docs with < n tokens yield (0, 0, 0).  Pure column
    expressions (interpreted HOFs — per-doc cost is O(tokens^2) on the
    distinct-gram count scan, fine for bounded web-page docs)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(c, " "), lambda t: t != F.lit(""))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    # top gram count as a run-length scan over the SORTED gram array —
    # O(n log n) instead of the O(n_distinct * n) filter-per-distinct-gram
    # scan (measured 22s -> ~1s over 500 sf0.01 docs; interpreted HOFs make
    # the quadratic form bite).  Grams are never '' (tokens are non-empty),
    # so the empty-string initial state can't collide with a real gram.
    sorted_g = F.array_sort(grams)
    top = F.when(
        total > 0,
        F.aggregate(
            sorted_g,
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, g: F.struct(
                g.alias("prev"),
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        ),
    ).otherwise(F.lit(0))
    return F.struct(
        total.cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        top.cast("long").alias("top_count"),
    )


def quality_score(col, lang: str = "en") -> Column:
    """Composite quality in [0,1]: rewards alpha text with stopwords and a
    sane word-length profile, penalizes punctuation soup and repetition.
    Heuristic of the Gopher/C4-style curation family, as a pure column."""
    awl = avg_word_len(col)
    wl_ok = F.when((awl >= 3.0) & (awl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        0.3 * alpha_ratio(col)
        + 0.3 * (1.0 - F.least(punct_ratio(col) * 4.0, F.lit(1.0)))
        + 0.2 * F.least(stopword_ratio(col, lang) * 5.0, F.lit(1.0))
        + 0.2 * (1.0 - repetition_ratio(col)) * wl_ok
    )
    return F.round(F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0)), 6)


def _lang_trigram_profiles() -> dict:
    """Per-language boundary-trigram profiles (Cavnar–Trenkle style),
    derived deterministically from the stopword lexicon: every 3-gram of
    each space-padded stopword.  Content-free constants — identical in any
    engine that substring-scans the same text."""
    profiles = {}
    for lang, words in STOPWORDS.items():
        grams = []
        for w in words:
            padded = f" {w} "
            for i in range(len(padded) - 2):
                g = padded[i:i + 3]
                if g not in grams:
                    grams.append(g)
        profiles[lang] = sorted(grams)
    return profiles


LANG_TRIGRAMS = _lang_trigram_profiles()


def lang_trigram_hits(col, lang: str) -> Column:
    """Number of DISTINCT profile trigrams present in the space-padded
    lowercased text (presence, not frequency — robust to doc length)."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    hits = [F.when(F.instr(padded, g) > 0, 1).otherwise(0)
            for g in LANG_TRIGRAMS[lang]]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def lang_id_ngram(col) -> Column:
    """Character-n-gram language ID (the brief's 'n-gram heuristic'):
    argmax of distinct boundary-trigram hits against each language profile;
    ties break by language-code order; 'und' on zero hits everywhere."""
    pairs = [(lang, lang_trigram_hits(col, lang)) for lang in sorted(LANG_TRIGRAMS)]
    best = F.greatest(*[F.struct(h.alias("h"), F.lit(len(pairs) - i).alias("o"),
                                 F.lit(lang).alias("lang"))
                        for i, (lang, h) in enumerate(pairs)])
    return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(col) -> Column:
    """argmax of per-language stopword hits; 'und' when no hits.  Ties break
    by language-code order (deterministic)."""
    pairs = [(lang, stopword_hits(col, lang)) for lang in sorted(STOPWORDS)]
    # build struct array (hits DESC, lang ASC) and take max
    best = F.greatest(*[F.struct(h.alias("h"), F.lit(len(STOPWORDS) - i).alias("o"),
                                 F.lit(lang).alias("lang"))
                        for i, (lang, h) in enumerate(pairs)])
    return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col) -> Column:
    """Polynomial rolling hash over code points:
    fold(chars, 0, (acc, ch) -> (acc*31 + codepoint(ch)) % 1e9+7).
    Sequential fold — bit-identical in DuckDB's list_reduce oracle.
    fp('') is PINNED to 0: both engines split '' into [''] whose lone
    pseudo-char has no codepoint, and they disagree on it (Spark ascii('')
    = 0, DuckDB unicode('') = -1 — caught by the adversarial empty-text
    fixture)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.when(F.length(c) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * _FP_MULT + F.ascii(ch)) % _FP_MOD,
        )
    )


def with_textstats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("n_chars_calc", char_count(c))
        .withColumn("avg_word_len", F.round(avg_word_len(c), 6))
        .withColumn("punct_ratio", F.round(punct_ratio(c), 6))
        .withColumn("alpha_ratio", F.round(alpha_ratio(c), 6))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_pred", lang_id(c))
        .withColumn("fingerprint", fingerprint(c))
    )


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
):
    """Split documents into fixed-size token windows with overlap — the
    context-window chunking step of an LLM training/RAG pipeline, as pure
    column expressions (posexplode of token-array slices; no Python).

    Chunks start every ``chunk_tokens - overlap`` tokens; the last chunk is
    the remainder (>= 1 token, never empty); docs shorter than
    ``chunk_tokens`` yield one chunk.  Deterministic: chunk_id is the
    0-based window index.  Returns (id, chunk_id, chunk_text, n_tokens).
    """
    from pyspark.sql import functions as F

    if chunk_tokens < 1 or not 0 <= overlap < chunk_tokens:
        raise ValueError("need chunk_tokens >= 1 and 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    n = F.size(toks)
    # number of windows: 1 + ceil(max(0, n - chunk_tokens) / step)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(step)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * step + 1, chunk_tokens),
    )
    out = df.select(
        F.col(id_col), n.alias("_n"), F.posexplode(chunks).alias("chunk_id", "ctoks")
    ).where(F.col("_n") > 0)
    return out.select(
        id_col,
        "chunk_id",
        F.array_join("ctoks", " ").alias("chunk_text"),
        F.size("ctoks").cast("long").alias("n_tokens"),
    )


def ngram_overlap_counts(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: for every probe document, how much of the
    corpus shares its word n-grams (the standard train/test contamination
    check — e.g. GPT-3 App. C, PaLM, Llama report 8-13-gram overlap).

    Returns one row per probe: (probe_id, n_docs_hit, max_shared,
    total_shared) where a corpus doc "hits" when it shares >=
    ``min_shared`` DISTINCT n-grams with the probe.

    Scale shape: distinct (id, gram) tables on both sides, an equi-join on
    the gram (never on doc pairs), and two partial-aggregating groupBys —
    at 100 TB the join fans out only where grams actually collide, and a
    stop-gram cap can bound boilerplate n-grams the same way blocking stop
    keys do.  Fully SQL-expressible (driver oracle recomputes it)."""
    from pyspark.sql import functions as F

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        g = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            df.select(F.col(id_col).alias(out_id), F.explode(g).alias("gram"))
            .distinct()
        )

    pg = grams(probes, "probe_id")
    cg = grams(corpus, "corpus_id")
    per_doc = (
        pg.join(cg, "gram")
        .groupBy("probe_id", "corpus_id")
        .agg(F.count("*").alias("shared"))
    )
    return (
        per_doc.where(F.col("shared") >= min_shared)
        .groupBy("probe_id")
        .agg(
            F.count("*").cast("long").alias("n_docs_hit"),
            F.max("shared").cast("long").alias("max_shared"),
            F.sum("shared").cast("long").alias("total_shared"),
        )
    )


def bpe_first_merge_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """The first step of BPE tokenizer training (Sennrich et al. 2016):
    corpus-wide counts of adjacent character pairs inside words, weighted
    by word frequency.  NOTE: this approximates the intra-word pair
    statistic only — ``train_bpe`` appends a ``</w>`` end-of-word marker,
    and pairs involving that marker (e.g. ``('t', '</w>')``) are not
    enumerated here, so this table's argmax can differ from the trainer's
    actual first merge when a marker pair dominates.  ``bpe_merges`` /
    ``train_bpe`` are the exact path; this is the cheap columnar screen.

    Returns the ``top_k`` (pair, cnt) rows, count DESC then pair ASC
    (deterministic).  Scale shape: word-count aggregation first (the
    vocabulary is tiny next to the corpus), pair explosion over the
    VOCABULARY not the corpus, one more partial-agg groupBy; top-k via
    sorted limit on an already-aggregated table."""
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    words = df.select(F.explode(toks).alias("w"))
    wc = words.groupBy("w").agg(F.count("*").alias("wn"))
    pairs = wc.select(
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("pair"),
        F.col("wn"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def bigram_fluency_scores(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff_ppm: int = 400_000,
) -> DataFrame:
    """Count-based LM quality scoring (the CCNet/Gopher "perplexity filter"
    family, public): a bigram LM with stupid-backoff (Brants et al. 2007)
    is trained on ``train`` and every ``score`` doc gets an EXACT-integer
    fluency aggregate — no floats, so the driver oracle hash-matches.

    Per scored token position i >= 1 the contribution is
      seen bigram:  (10^6 * c(w_{i-1} w_i)) DIV c(w_{i-1})   (cond. prob ppm)
      else:         (backoff_ppm * c(w_i)) DIV total_tokens  (unigram backoff)
    — integer floor division on both engines (Spark DIV == DuckDB //), so
    the sum is bit-exact.  Returns (id, n_bigrams, n_hits, fluency_ppm)
    with n_hits = positions whose bigram the LM has seen; callers filter on
    fluency_ppm / n_bigrams (low = disfluent/boilerplate/junk).

    Scale shape: the LM is two count tables aggregated from the train
    corpus (vocabulary-sized, not corpus-sized); scoring joins the scored
    docs' (id, pos, w_prev, w) rows to those tables by key — at 100 TB the
    count tables behave like dimension tables (broadcast or bucket-join)
    and nothing is quadratic.
    """
    from pyspark.sql import functions as F

    def toks(df: DataFrame) -> DataFrame:
        t = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        return df.select(F.col(id_col).alias("id"), t.alias("tk"))

    tr = toks(train)
    uni = (
        tr.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    total = tr.select(F.sum(F.size("tk")).alias("n")).collect()[0]["n"] or 0
    bi = (
        tr.select(
            F.explode(
                F.when(
                    F.size("tk") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("tk") - 1),
                        lambda i: F.struct(
                            F.element_at("tk", i).alias("wp"),
                            F.element_at("tk", i + 1).alias("w"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<wp:string,w:string>>"))
            ).alias("g")
        )
        .select("g.wp", "g.w")
        .groupBy("wp", "w")
        .agg(F.count("*").alias("c2"))
    )
    pos = (
        toks(score)
        .select(
            "id",
            F.explode(
                F.when(
                    F.size("tk") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("tk") - 1),
                        lambda i: F.struct(
                            F.element_at("tk", i).alias("wp"),
                            F.element_at("tk", i + 1).alias("w"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<wp:string,w:string>>"))
            ).alias("g"),
        )
        .select("id", "g.wp", "g.w")
    )
    joined = (
        pos.join(bi, ["wp", "w"], "left")
        .join(uni.select(F.col("w").alias("wp"), "c1"), "wp", "left")
        .join(
            uni.select(F.col("w"), F.col("c1").alias("cu")), "w", "left"
        )
    )
    seen = F.col("c2").isNotNull() & F.col("c1").isNotNull()
    contrib = F.when(seen, F.expr("(1000000 * c2) div c1")).otherwise(
        F.expr(f"({backoff_ppm} * coalesce(cu, 0)) div {max(int(total), 1)}")
    )
    return (
        joined.withColumn("_p", contrib)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.when(seen, 1).otherwise(0)).cast("long").alias("n_hits"),
            F.sum("_p").cast("long").alias("fluency_ppm"),
        )
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    max_vocab: int = 100_000,
    with_counts: bool = False,
) -> list:
    """Byte-pair-encoding merge training (Sennrich et al. 2016, public) —
    the tokenizer-training loop, Spark-shaped: the ONLY corpus-sized pass
    is the distributed word-frequency aggregation; the merge loop then
    runs driver-side over that bounded vocabulary table (the same pattern
    as IVF's driver-side k-means over a bounded sample — a web corpus has
    ~10^12 tokens but ~10^7 distinct words, and ``max_vocab`` caps the
    driver copy at the most frequent entries).

    Words are split into characters plus the standard ``</w>`` end-of-word
    marker; each step merges the (count DESC, pair ASC — deterministic)
    most frequent adjacent symbol pair, non-overlapping left-to-right.
    Returns the ordered merge list [(left, right), ...] — or
    [(left, right, count), ...] with ``with_counts=True`` (count = the
    weighted pair frequency at the step it won); stops early when no pair
    occurs twice.
    """
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    wc_rows = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(max_vocab)
        .collect()
    )
    vocab = {tuple(r["w"]) + ("</w>",): int(r["n"]) for r in wc_rows}
    merges: list = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _cnt = best
        merged = a + b
        new_vocab: dict = {}
        for syms, n in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + n
        vocab = new_vocab
        merges.append((a, b, best[1]) if with_counts else (a, b))
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a trained merge list: each word is split to chars +
    ``</w>`` and the merges replay IN TRAINING ORDER (non-overlapping
    left-to-right, the standard greedy application).  Arrow-batched with a
    per-batch word cache — web text repeats words heavily, so the
    per-distinct-word cost is amortized.  Emits array<string>; joining a
    word's tokens and stripping the marker reconstructs the word exactly
    (property-tested)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(list(merges))

    @pandas_udf("array<string>")
    def _udf(texts):
        import pandas as pd

        mg = bc.value
        cache: dict = {}

        def encode_word(w: str):
            got = cache.get(w)
            if got is None:
                syms = list(w) + ["</w>"]
                for a, b, *_ in mg:
                    out = []
                    i = 0
                    while i < len(syms):
                        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                got = cache[w] = syms
            return got

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks: list = []
            for w in t.split(" "):
                if w:
                    toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _udf(F.col(text_col)))
