"""Text-analysis operators for a large-scale training-data pipeline.

All pure JVM expressions (pyspark.sql.functions — whole-stage codegen, no
Python in the path). Each has a DuckDB-expressible twin in
``__spark_entry__.oracle_sql`` so the driver's correctness gate hashes it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic stopword lists per language (language-ID heuristic)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "las", "es", "de", "que", "en", "por", "una"],
}

BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokenizer matches: letter runs, single digits,
    single punctuation."""
    return F.regexp_count(text, F.lit(BPE_ISH_TOKEN_RE))


def _count_words(text: Column, words: list[str]) -> Column:
    """Occurrences of any of ``words`` as whole lowercase words."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pattern))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return F.round(
        _count_words(text, LANG_STOPWORDS[lang])
        / F.greatest(ws_token_count(text), F.lit(1)),
        6,
    )


def punct_ratio(text: Column) -> Column:
    return F.round(
        F.regexp_count(text, F.lit(r"[^\w\s]")) / F.greatest(F.length(text), F.lit(1)),
        6,
    )


def mean_word_len(text: Column) -> Column:
    return F.round(
        F.length(F.regexp_replace(text, r"\s+", ""))
        / F.greatest(ws_token_count(text), F.lit(1)),
        6,
    )


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, 1]:
    0.4 * min(1, n_tokens/100) + 0.3 * (1 - min(1, 5*punct_ratio))
    + 0.3 * min(1, 4*stopword_ratio_en)."""
    toks = ws_token_count(text)
    length_term = F.least(F.lit(1.0), toks / F.lit(100.0))
    punct_term = F.lit(1.0) - F.least(F.lit(1.0), F.lit(5.0) * punct_ratio(text))
    stop_term = F.least(F.lit(1.0), F.lit(4.0) * stopword_ratio(text, "en"))
    return F.round(
        F.lit(0.4) * length_term + F.lit(0.3) * punct_term + F.lit(0.3) * stop_term, 6
    )


def lang_scores(text: Column) -> dict[str, Column]:
    toks = F.greatest(ws_token_count(text), F.lit(1))
    return {
        lang: F.round(_count_words(text, words) / toks, 6)
        for lang, words in LANG_STOPWORDS.items()
    }


def predicted_lang(text: Column) -> Column:
    """argmax of per-language stopword-hit rate; ties resolve in fixed
    order en > de > fr > es; all-zero -> 'und' (undetermined)."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # reversed so earlier languages win ties via later .when precedence
    for lang in ["es", "fr", "de", "en"]:
        result = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(result)
    return result


def doc_fingerprint_expr(text_col_name: str, gram: int = 8, stride: int = 4) -> Column:
    """Rolling-hash document fingerprint (winnowing-lite): minimum md5 over
    character ``gram``-grams sampled every ``stride`` chars. Equal
    fingerprints => near-identical content; cheap first-pass dedup key.
    Lexicographic min of fixed-width hex == numeric min, so min(md5) is
    portable to the DuckDB oracle."""
    return F.expr(
        f"array_min(transform(sequence(1, greatest(length({text_col_name}) - {gram - 1}, 1), {stride}),"
        f" i -> md5(substr({text_col_name}, i, {gram}))))"
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition / shape signals (Rae et al. 2021, public rules)
# ---------------------------------------------------------------------------


def _lines(text: Column) -> Column:
    return F.split(text, r"\n")


def dup_line_frac(text: Column) -> Column:
    """Fraction of lines that are duplicates of an earlier line:
    1 - distinct_lines / lines (0 for empty/one-line docs)."""
    lines = _lines(text)
    n = F.size(lines)
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct(lines)) / n, 6)
    )


def dup_ngram_frac(text: Column, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram
    (count-weighted): 1 - distinct_ngrams / ngrams. The Gopher paper's
    duplicate-n-gram signal; high values mean templated/spammy text."""
    words = F.split(F.trim(text), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    total = F.size(grams)
    return F.when(total <= 1, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / total, 6)
    )


def bullet_line_frac(text: Column) -> Column:
    """Fraction of lines starting with a bullet marker (-, *, •)."""
    lines = _lines(text)
    bullets = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    )
    return F.round(bullets / F.greatest(F.size(lines), F.lit(1)), 6)


def ellipsis_line_frac(text: Column) -> Column:
    """Fraction of lines ending in an ellipsis."""
    lines = _lines(text)
    ell = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"))
    )
    return F.round(ell / F.greatest(F.size(lines), F.lit(1)), 6)


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' or '...' occurrences) / words — the Gopher symbol rule."""
    syms = F.regexp_count(text, F.lit(r"#|\.\.\.")) 
    return F.round(syms / F.greatest(ws_token_count(text), F.lit(1)), 6)


def gopher_keep(text: Column) -> Column:
    """Boolean keep-decision from the public Gopher quality rules
    (thresholds from Rae et al. 2021 Table A1, the subset computable
    without a tokenizer/model):

    - 50 <= word count <= 100,000
    - 3 <= mean word length <= 10
    - symbol-to-word ratio <= 0.1
    - bullet-started lines <= 90%
    - ellipsis-ended lines <= 30%
    - >= 2 English stopword hits
    - duplicate-line fraction <= 0.30
    - duplicate 3-gram fraction <= 0.18 (count-weighted stand-in for the
      paper's char-weighted top-/dup-n-gram family)
    """
    toks = ws_token_count(text)
    mwl = mean_word_len(text)
    return (
        (toks >= 50)
        & (toks <= 100_000)
        & (mwl >= 3.0)
        & (mwl <= 10.0)
        & (symbol_word_ratio(text) <= 0.1)
        & (bullet_line_frac(text) <= 0.9)
        & (ellipsis_line_frac(text) <= 0.3)
        & (_count_words(text, LANG_STOPWORDS["en"]) >= 2)
        & (dup_line_frac(text) <= 0.3)
        & (dup_ngram_frac(text, 3) <= 0.18)
    )


# ---------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020, the public heuristics)
# ---------------------------------------------------------------------------


def c4_line_keep(line: Column) -> Column:
    """C4's line rule: keep lines that end in terminal punctuation ('.',
    '!', '?', or closing quote), have at least 5 words, and do not
    contain the word 'javascript' (case-insensitive)."""
    t = F.trim(line)
    return (
        t.rlike(r"""[.!?]["']?$""")
        & (F.size(F.split(t, r"\s+")) >= 5)
        & ~F.lower(t).contains("javascript")
    )


def c4_clean_text(text: Column) -> Column:
    """Text with non-conforming lines removed (newline-joined)."""
    return F.array_join(
        F.filter(_lines(text), c4_line_keep), "\n"
    )


def c4_page_keep(text: Column) -> Column:
    """C4's page rules: >= 3 sentences (terminal-punctuation runs in the
    CLEANED text), no 'lorem ipsum', no curly brace."""
    cleaned = c4_clean_text(text)
    sentences = F.regexp_count(cleaned, F.lit(r"[.!?]"))
    return (
        (sentences >= 3)
        & ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
    )


# ---------------------------------------------------------------------------
# corpus-wide paragraph-level exact dedup (CCNet/RefinedWeb-style)
# ---------------------------------------------------------------------------


def explode_paragraphs(df, id_col: str, text_col: str):
    """(id, para_pos, para, para_hash) — blank-line-separated paragraphs,
    trimmed, empties dropped. One narrow transform, no shuffle."""
    paras = F.filter(
        F.transform(
            F.split(F.col(text_col), r"\n\s*\n"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    return (
        df.select(F.col(id_col), F.posexplode(paras).alias("para_pos", "para"))
        .withColumn("para_hash", F.md5(F.col("para")))
    )


def paragraph_dedup(df, id_col: str, text_col: str):
    """Corpus-wide exact paragraph dedup: the FIRST occurrence of each
    paragraph (ordered by (id, position)) is kept, repeats are flagged.

    Plan shape at 10^10 docs — deliberately NOT a window. A
    ``row_number().over(partitionBy(para_hash))`` puts every copy of a
    mega-duplicated boilerplate paragraph ("subscribe to our newsletter",
    cookie banners: 10^8-10^9 copies) into ONE window partition in ONE
    task, and AQE does not split window partitions (its skew handling
    covers joins and shuffle-partition coalescing only). Instead:

      1. ``groupBy(para_hash).agg(min_by-struct)`` — partial map-side
         aggregation absorbs the skew before the shuffle: each input
         partition contributes at most one candidate per hash, so the
         reduce side sees ~num_partitions rows per hash, not 10^9;
      2. broadcast-eligible equi-join back on (para_hash, id, pos) to
         tag ``keep`` — same one shuffle the window had, no new ones.

    Output and hash-gate contract identical to the window formulation:
    (id, para_pos, para_hash, keep).
    """
    paras = explode_paragraphs(df, id_col, text_col)
    firsts = paras.groupBy("para_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("para_pos"))).alias("first")
    ).select(
        "para_hash",
        F.col(f"first.{id_col}").alias("_first_id"),
        F.col("first.para_pos").alias("_first_pos"),
    )
    return (
        paras.join(firsts, on="para_hash", how="inner")
        .withColumn(
            "keep",
            (F.col(id_col) == F.col("_first_id"))
            & (F.col("para_pos") == F.col("_first_pos")),
        )
        .select(id_col, "para_pos", "para_hash", "keep")
    )


# ---------------------------------------------------------------------------
# PII redaction (the standard pre-training scrub: emails, phones, IPs)
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# international-ish phone shapes: optional +CC, separators, 7+ digits total
PII_PHONE_RE = r"(?<![\d.])\+?\d{1,3}[-. (]?\d{2,4}[-. )]?\d{3,4}[-. ]?\d{3,4}(?![\d.])"
PII_IPV4_RE = (
    r"(?<![\d.])(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
    r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?![\d.])"
)


def redact_pii(text: Column) -> Column:
    """Replace emails, phone numbers, and IPv4 addresses with typed
    placeholder tokens (the BigScience/ROOTS-style scrub). Order matters:
    emails first (their local parts can look like phones), then IPs
    (dotted digits would otherwise half-match the phone shape), then
    phones. Pure JVM regexp_replace chain."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (for corpus audit dashboards)."""
    return {
        "emails": F.regexp_count(text, F.lit(PII_EMAIL_RE)),
        "ips": F.regexp_count(text, F.lit(PII_IPV4_RE)),
    }


# ---------------------------------------------------------------------------
# URL-level quality filter (FineWeb/RefinedWeb-style, the pre-fetch cut)
# ---------------------------------------------------------------------------


def url_quality_keep(url: Column) -> Column:
    """Cheap URL-only keep-decision applied BEFORE fetching (saves the
    whole fetch+parse cost for junk): total length <= 512, <= 40% digits
    in the path, no query-string session/tracking keys, path depth <= 12,
    and not an obvious binary-asset extension."""
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    digits = F.regexp_count(path, F.lit(r"\d"))
    return (
        (F.length(url) <= 512)
        & (
            digits
            <= F.greatest(F.length(path), F.lit(1)) * 0.4
        )
        & ~F.lower(url).rlike(r"[?&](sessionid|sid|phpsessid|utm_[a-z]+)=")
        & (F.size(F.split(path, "/")) <= 13)
        & ~F.lower(path).rlike(r"\.(jpg|jpeg|png|gif|css|js|zip|exe|dmg|iso)$")
    )

