"""Text-analysis expressions for the training-data-pipeline extension
(BASELINE.json north_star: text analysis at 100 TB).

All pure Column expressions — JVM-side, whole-stage codegen, no Python
in the hot path. Each has an exact ANSI-SQL twin in __spark_entry__'s
oracle set.

- token counting: whitespace tokenization (the BPE-ish regex variant is
  ``tokens_expr(col, pattern=...)``)
- language ID: stopword-hit argmax over small per-language lists — the
  classic cheap n-gram/stopword heuristic; deterministic tiebreak by
  list order
- quality score: length/punctuation/stopword ratios composed into one
  bounded score (the CCNet/Gopher-style cheap filters)
- fingerprint: md5 of case/whitespace-normalized text (exact-dedup key)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lists (ASCII only, deterministic)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "fr": ("le", "la", "et", "les", "des", "un", "est"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "es": ("el", "la", "y", "los", "de", "que", "es"),
}

PUNCT_CLASS = r"[^.!?,;:]"

#: Whitespace split spelled as an EXPLICIT class, identical in Java
#: regex (Spark), RE2 (the DuckDB oracles), and Python `re` (the
#: naive test references): `\s` is NOT portable — Java's includes
#: vertical tab \x0B, RE2's does not (verified:
#: string_split_regex('a'||chr(11)||'b', '\s+') stays unsplit), and
#: Python's additionally matches unicode spaces in str mode. EVERY
#: whitespace tokenization/collapse in this repo — Spark expression
#: AND its DuckDB oracle twin — uses THIS class (repo-wide migration,
#: r4; the divergence is pinned by test_ws_split_portability_pin).
WS_SPLIT = r"[ \t\n\r\x0B\f]+"


def tokens_expr(col: Column) -> Column:
    """Lowercased alphabetic tokens (for stopword matching)."""
    return F.split(F.lower(F.trim(col)), r"[^a-z]+")


def token_count_expr(col: Column) -> Column:
    """Whitespace token count; empty/blank → 0. Long type."""
    trimmed = F.trim(col)
    return (
        F.when(trimmed == "", F.lit(0))
        .otherwise(F.size(F.split(trimmed, WS_SPLIT)))
        .cast("long")
    )


def _stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    toks = tokens_expr(col)
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordset, t))).cast("long")


def lang_id_expr(col: Column) -> Column:
    """argmax over per-language stopword hit counts; ties and all-zero →
    first language in STOPWORDS order ('en'). Pure expression: the
    lists are constant-folded; no join, no UDF."""
    hits = {lang: _stopword_hits(col, ws) for lang, ws in STOPWORDS.items()}
    langs = list(STOPWORDS)
    best = F.lit(langs[0])
    best_hits = hits[langs[0]]
    for lang in langs[1:]:
        better = hits[lang] > best_hits
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_hits = F.when(better, hits[lang]).otherwise(best_hits)
    return best


def quality_score_expr(col: Column) -> Column:
    """Bounded [0,1] quality heuristic:
    0.4·min(tokens/100,1) + 0.3·(1-punct_ratio) + 0.3·min(stop_ratio·5,1)
    — rewards length, low punctuation noise, natural-language stopword
    density. Rounded (half-up) to 4 decimals.

    Computed as an EXACT integer rational, not in doubles: every input
    is an integer (token count n, text length L, punct chars p,
    stopword hits s), so the score is num/den with
      num = 4·min(n,100)·L₁·n₁ + 300·n₁·(L₁−p) + 300·L₁·min(5s, n₁)
      den = 1000·L₁·n₁            (L₁ = max(L,1), n₁ = max(n,1))
    and the 4-decimal half-up rounding is integer floor-div + remainder
    compare. A double formulation diverged from the DuckDB oracle by
    1 ULP at a .00005 boundary on one sf0.1 row (r4 scale probe);
    integer arithmetic makes the value engine-independent at any SF.

    Exactness bound: the intermediate products stay inside long range
    for L·n ≤ ~4e11 (multi-MB documents with hundreds of thousands of
    tokens — far beyond any sane training document); the floor
    division itself is long-verified (double candidate + exact long
    correction), so it stays exact even past 2^53 where a pure double
    quotient could truncate one off."""
    n = token_count_expr(col)
    l1 = F.greatest(F.length(col), F.lit(1)).cast("long")
    n1 = F.greatest(n, F.lit(1))
    p = F.length(F.regexp_replace(col, PUNCT_CLASS, "")).cast("long")
    sh = _stopword_hits(col, STOPWORDS["en"])
    num = (
        F.lit(4) * F.least(n, F.lit(100)) * l1 * n1
        + F.lit(300) * n1 * (l1 - p)
        + F.lit(300) * l1 * F.least(F.lit(5) * sh, n1)
    )
    den = F.lit(1000) * l1 * n1
    a = num * F.lit(10000)
    r = F.pmod(a, den)
    # double division gives a CANDIDATE quotient; past 2^53 the exact
    # multiple (a - r) is not representable and the candidate can be
    # one off, so verify/correct it in exact LONG arithmetic (the true
    # quotient is ≤ ~10^4, so k*den cannot overflow within the
    # documented L·n bound)
    kd = ((a - r) / den).cast("long")
    exact = a - r
    k = (
        F.when(kd * den > exact, kd - 1)
        .when((kd + 1) * den <= exact, kd + 1)
        .otherwise(kd)
    )
    v = k + (r * 2 >= den).cast("long")
    return v.cast("double") / F.lit(10000.0)


def fingerprint_expr(col: Column) -> Column:
    """md5 of lower/trim/whitespace-collapsed text — the exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(col)), WS_SPLIT, " ")
    return F.md5(norm.cast("binary"))


def winnow_fingerprints(docs, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, w: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    MOSS): hash every n-word shingle, slide a w-hash window over the
    sequence, keep each window's MIN hash. Guarantees any shared run
    of ≥ n+w-1 words between two documents shares ≥ 1 fingerprint,
    with ~2/(w+1) selection density — a position-robust near-dup /
    plagiarism index far smaller than the full shingle set.

    All expression-level (split → transform/slice/md5 → posexplode →
    one window per doc): whole-stage codegen, one shuffle (the
    per-doc window), no UDF. Docs shorter than n words have no
    shingles and are skipped; docs with fewer than w shingles emit
    the min of what they have (pos-1 window only).

    Returns distinct (doc_id, fp) rows; fp = first 16 hex chars of
    the shingle md5 (collision odds at 64 bits are negligible for an
    index; the exact-dedup path uses the full digest)."""
    from pyspark.sql import Window

    words = F.split(F.lower(F.trim(F.col(text_col))), WS_SPLIT)
    d = docs.select(F.col(id_col).alias("doc_id"), words.alias("w")).filter(
        F.size("w") >= n
    )
    hashes = F.expr(
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> substring(md5(concat_ws(' ', slice(w, i, {n}))), 1, 16))"
    )
    sh = d.select(
        "doc_id",
        (F.size("w") - (n - 1)).alias("m_sh"),
        F.posexplode(hashes).alias("pos0", "h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        sh.withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos0") + 1 <= F.greatest(F.col("m_sh") - (w - 1), F.lit(1)))
        .select("doc_id", "fp")
        .distinct()
    )
