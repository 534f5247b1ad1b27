"""Text/URL normalization — pure Catalyst column expressions.

This stage is the engine's analog of the reference's ``processor`` callback
hook (``__init__.py:81-83``): instead of a per-call Python callback, the
transform is an explicit, deterministic column projection that Catalyst can
fold, push down and codegen.  No UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def norm_text(col) -> Column:
    """Lowercase, collapse whitespace, trim — the default pre-comparison
    transform for scoring (kept cheap and reversible-ish; byte-identical
    text preservation happens upstream in the pages table, per input_hint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def url_host(col) -> Column:
    """Normalized URL host: strips scheme/port/'www.', lowercases.

    The north rule's first blocking key ("normalized-URL-host keys").
    parse_url is a built-in JVM expression — no Python involved.
    """
    c = F.col(col) if isinstance(col, str) else col
    host = F.lower(F.parse_url(c, F.lit("HOST")))
    return F.regexp_replace(host, r"^www\.", "")


def token_sort_key(col) -> Column:
    """Alphabetically sorted tokens re-joined — the token_sort_ratio
    prefilter transform: near-duplicate texts with swapped word order get
    identical keys; used both as a cheap exact-match blocking pass and as
    the input to token-sorted ratio scoring."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.split(norm_text(c), " ")), " ")


# cap on the normalized text every stage keys and scores: real crawl pages
# can be 100 KB+, and Jaro-family kernels are superlinear in length.
# Prefix truncation keeps ratio a lower bound for near-identical long
# docs, and exact dedup upstream catches byte-identical ones regardless.
MAX_NORM_CHARS = 4096


def with_normalized(df: DataFrame, text_col: str = "text", url_col: str = "url") -> DataFrame:
    """``df`` plus ``norm_text`` (its first ``MAX_NORM_CHARS`` normalized
    characters) and, when ``url_col`` exists, ``host``; the stored text
    column stays intact."""
    out = df.withColumn("norm_text", F.substring(norm_text(text_col), 1, MAX_NORM_CHARS))
    if url_col in df.columns:
        out = out.withColumn("host", url_host(url_col))
    return out


def one_page_per_url(pages: DataFrame) -> DataFrame:
    """One landing per url, the page every later stage keys and scores
    under that url: the earliest ``warc_ts``, then the smallest text.  Rows
    with a NULL url are dropped.  The batch's normalize stage and each
    catch-up (over its new files) apply this rule, so a url that lands
    twice is one page in both."""
    first = Window.partitionBy("url").orderBy("warc_ts", "text")
    return pages.where(F.col("url").isNotNull()) \
        .withColumn("_n", F.row_number().over(first)).where(F.col("_n") == 1).drop("_n")


def phonetic_key(col) -> Column:
    """Soundex-style phonetic blocking key — pure column expressions.

    Classic Soundex digit classes (Odell/Russell; public), as a
    translate + regexp chain that is EXPRESSIBLE IN RE2: adjacent equal
    digits are collapsed with per-digit quantifier patterns ('1{2,}' ...)
    instead of a backreference, because DuckDB's RE2 has no backrefs and
    the oracle must run the byte-identical chain.  Documented variant: the
    h/w-separator exception is omitted (same-class consonants separated by
    h/w collapse classically but not here — 'Ashcraft' -> A226, classic
    A261); 'Robert' -> R163, 'Jackson' -> J250, 'Tymczak' -> T522,
    'Pfister' -> P236 all match classic Soundex.  Empty/non-alpha input
    yields ''.
    """
    c = col if isinstance(col, Column) else F.col(col)
    s = F.upper(F.regexp_replace(c, "[^A-Za-z]", ""))
    codes = F.translate(s, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01230120022455012623010202")
    for d in "0123456":
        codes = F.regexp_replace(codes, d + "{2,}", d)
    tail = F.regexp_replace(F.substring(codes, 2, 2147483647), "0", "")
    return F.when(F.length(s) == 0, F.lit("")).otherwise(
        F.concat(F.substring(s, 1, 1), F.rpad(F.substring(tail, 1, 3), 3, "0"))
    )


# NYSIIS rule table (Taft 1970; public) — ONE source of truth rendered to
# both engines: nysiis_key() folds it into Spark regexp_replace calls,
# nysiis_sql() into the byte-identical DuckDB chain (RE2-safe: no
# backreferences in patterns — duplicate collapse is per-letter
# quantifiers like phonetic_key; '<1>' in a replacement renders as Java
# '$1' / RE2 '\\1').  Documented variant: the classic per-character scan
# applies H/W rules against the PREVIOUS KEY character including the
# first; this chain transforms the rest-of-string only, so rules never
# read across the first-char boundary (same spirit as phonetic_key's
# omitted h/w exception — the chain itself is the deterministic spec).
_NYSIIS_PREFIX = [
    ("^MAC", "MCC"), ("^KN", "NN"), ("^K", "C"),
    ("^(PH|PF)", "FF"), ("^SCH", "SSS"),
]
_NYSIIS_SUFFIX = [("(EE|IE)$", "Y"), ("(DT|RT|RD|NT|ND)$", "D")]
_NYSIIS_BODY = (
    [
        ("EV", "AF"),
        ("[AEIOU]", "A"),
        ("Q", "G"), ("Z", "S"), ("M", "N"),
        ("KN", "N"), ("K", "C"),
        ("SCH", "SSS"), ("PH", "FF"),
        ("AH([^A])", "AA<1>"),  # H between vowel and consonant -> prev (A)
        ("AH$", "AA"),
        ("([^A])H", "<1><1>"),  # H after consonant -> previous char
        ("AW", "AA"),           # W after vowel -> previous vowel (A)
    ]
    + [(ch + "{2,}", ch) for ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"]
)
_NYSIIS_FINAL = [("S$", ""), ("AY$", "Y"), ("A+$", "")]


def nysiis_key(col, truncate: int = 6) -> Column:
    """NYSIIS-style phonetic blocking key (Taft 1970) — the second
    phonetic encoder beside :func:`phonetic_key` (Soundex keeps the
    first letter + 3 digit classes; NYSIIS re-spells the whole name, so
    the two block DIFFERENT typo families and multi-pass blocking wants
    both).  Pure column expressions; see the rule-table comment for the
    boundary variant.  Empty/non-alpha input yields ''."""
    c = col if isinstance(col, Column) else F.col(col)
    s = F.upper(F.regexp_replace(c, "[^A-Za-z]", ""))
    for pat, rep in _NYSIIS_PREFIX + _NYSIIS_SUFFIX:
        s = F.regexp_replace(s, pat, rep.replace("<1>", "$1"))
    first = F.substring(s, 1, 1)
    rest = F.substring(s, 2, 2147483647)
    for pat, rep in _NYSIIS_BODY + _NYSIIS_FINAL:
        rest = F.regexp_replace(rest, pat, rep.replace("<1>", "$1"))
    # collapse a duplicate at the first||rest seam (rest is internally
    # collapsed already, so at most one copy can lead)
    rest = F.when(
        F.substring(rest, 1, 1) == first, F.substring(rest, 2, 2147483647)
    ).otherwise(rest)
    key = F.concat(first, rest)
    if truncate:
        key = F.substring(key, 1, truncate)
    return key


def nysiis_sql(expr: str, truncate: int = 6) -> str:
    """Render the SAME rule table as a DuckDB SQL expression over
    ``expr`` — the oracle side of :func:`nysiis_key` by construction."""
    s = f"upper(regexp_replace({expr}, '[^A-Za-z]', '', 'g'))"
    for pat, rep in _NYSIIS_PREFIX + _NYSIIS_SUFFIX:
        s = f"regexp_replace({s}, '{pat}', '{rep.replace('<1>', chr(92) + '1')}', 'g')"
    rest = f"substr({s}, 2)"
    for pat, rep in _NYSIIS_BODY + _NYSIIS_FINAL:
        rest = f"regexp_replace({rest}, '{pat}', '{rep.replace('<1>', chr(92) + '1')}', 'g')"
    key = (
        f"substr({s}, 1, 1) || (CASE WHEN substr({rest}, 1, 1) = substr({s}, 1, 1) "
        f"THEN substr({rest}, 2) ELSE {rest} END)"
    )
    if truncate:
        key = f"substr({key}, 1, {truncate})"
    return key


def token_set_strings(col_a, col_b) -> Column:
    """The three token-set comparison strings of token_set_ratio (fuzz
    family; engine extra beyond the reference exports) as a struct
    (sect, comb_a, comb_b) of pure column expressions:

      sect   = sorted distinct tokens common to both sides, joined by ' '
      comb_a = sect + ' ' + sorted tokens only in a   (trimmed)
      comb_b = sect + ' ' + sorted tokens only in b   (trimmed)

    token_set_ratio = max(ratio(sect, comb_a), ratio(sect, comb_b),
    ratio(comb_a, comb_b)) — near-1.0 whenever one side's token set is
    contained in the other's, regardless of word order or repetition.
    Scoring is left to the caller (indel ratio kernel) so the construction
    stays JVM-side and engine-mirrorable (array_sort == list_sort binary
    collation on ASCII).
    """
    a = col_a if isinstance(col_a, Column) else F.col(col_a)
    b = col_b if isinstance(col_b, Column) else F.col(col_b)
    ta = F.array_distinct(F.filter(F.split(norm_text(a), " "), lambda t: t != F.lit("")))
    tb = F.array_distinct(F.filter(F.split(norm_text(b), " "), lambda t: t != F.lit("")))
    sect = F.array_sort(F.filter(ta, lambda t: F.array_contains(tb, t)))
    da = F.array_sort(F.filter(ta, lambda t: ~F.array_contains(tb, t)))
    db = F.array_sort(F.filter(tb, lambda t: ~F.array_contains(ta, t)))
    sect_str = F.array_join(sect, " ")
    comb_a = F.trim(F.concat_ws(" ", sect_str, F.array_join(da, " ")))
    comb_b = F.trim(F.concat_ws(" ", sect_str, F.array_join(db, " ")))
    return F.struct(
        sect_str.alias("sect"), comb_a.alias("comb_a"), comb_b.alias("comb_b")
    )
