"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (JVM, codegen) so each has an exact ANSI-SQL
oracle. The reference has a lighter analogue only in clean_dataset
(datamodel.py:310-353, stopword strip); these extend the engine toward
the LLM-corpus use-case the graft targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as T

# tiny deterministic stopword inventories per language (public, common
# function words; NOT nltk's lists — those aren't available offline).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "with", "for"],
    "de": ["der", "die", "das", "und", "zu", "ein", "ist", "mit", "von", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "con", "para"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "avec"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai", "you", "he", "ren", "ta"],
}


def token_count(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(eid, n_tokens, n_unique_tokens, n_chars)."""
    toks = T.tokens(F.col(text_col), distinct=False)
    return docs.select(
        F.col(id_col).alias("eid"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", lang: str = "en") -> DataFrame:
    """Heuristic quality features + score in [0,1]:
    mean token length in sane range, stopword ratio, uniqueness ratio
    (repetition guard), alpha ratio. Gopher/C4-style filters, SQL-only.
    """
    toks = T.tokens(F.col(text_col), distinct=False)
    sw = F.array([F.lit(s) for s in STOPWORDS[lang]])
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    avg_len = F.when(n > 0,
                     F.aggregate(toks, F.lit(0).cast("long"),
                                 lambda acc, t: acc + F.length(t)).cast("double") / n
                     ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0,
                        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
                        .cast("double") / n).otherwise(F.lit(0.0))
    uniq_ratio = F.when(n > 0, uniq.cast("double") / n).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        F.length(text_col) > 0,
        (F.length(F.regexp_replace(F.lower(text_col), r"[^a-z]", ""))
         .cast("double") / F.length(text_col)),
    ).otherwise(F.lit(0.0))
    score = (
        F.when((avg_len >= 3) & (avg_len <= 10), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(uniq_ratio >= 0.3, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(alpha_ratio >= 0.6, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return docs.select(
        F.col(id_col).alias("eid"),
        F.size(toks).alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 2).alias("quality_score"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: score(lang) = #tokens in that lang's
    stopword list; predict argmax (ties -> lexicographically first
    lang). (eid, lang_pred, lang_score)."""
    toks = T.tokens(F.col(text_col), distinct=False)

    def _counter(ws):
        arr = F.array([F.lit(s) for s in ws])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("double")

    scores = {lang: _counter(ws) for lang, ws in sorted(STOPWORDS.items())}
    # argmax = max score, then the lexicographically-first language
    # achieving it (deterministic tie-break, matches a SQL CASE oracle)
    max_s = F.greatest(*[scores[lang] for lang in sorted(STOPWORDS)])
    first_lang = None
    for lang in sorted(STOPWORDS):
        cond = scores[lang] == max_s
        first_lang = F.when(cond, F.lit(lang)) if first_lang is None \
            else first_lang.when(cond, F.lit(lang))
    return docs.select(
        F.col(id_col).alias("eid"),
        first_lang.alias("lang_pred"),
        max_s.alias("lang_score"),
    )


def _fingerprint(text_col: str) -> Column:
    """md5 of whitespace-normalized lowercase text. NULL text hashes as
    empty text (md5(NULL) would be NULL, which never joins against a
    prior fingerprint store or another fingerprint)."""
    base = F.coalesce(F.col(text_col), F.lit(""))
    return F.md5(F.lower(F.regexp_replace(base, r"\s+", " ")))


def doc_fingerprint(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(eid, fingerprint): the exact-dedup / lineage fingerprint
    (:func:`_fingerprint`), shared by batch and streaming cleaning."""
    return docs.select(F.col(id_col).alias("eid"),
                       _fingerprint(text_col).alias("fingerprint"))


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", min_count: int = 2,
               keep_first: bool = True) -> DataFrame:
    """RefinedWeb/C4-style exact LINE deduplication across the corpus:
    a line occurring >= ``min_count`` times globally is removed from
    every document except (``keep_first``) its first occurrence in
    (doc_id, position) order. Returns every input doc with its
    reconstructed text: (eid, n_lines, n_kept, clean_text).

    Plan: posexplode lines -> global per-line count + first-occurrence
    via groupBy(min(struct)) — a map-side-combining aggregate, NOT a
    window over partitionBy(line), so a hot line (boilerplate nav text
    repeated 10^9 times) partial-aggregates on the mappers instead of
    shuffling every occurrence to one reducer. Blank lines are dropped
    up front (the hottest key by far in real webtext).
    """
    lines = (
        docs.select(F.col(id_col).alias("eid"),
                    F.posexplode(F.split(F.col(text_col), "\n"))
                    .alias("pos", "line"))
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
    )
    stats = lines.groupBy("line").agg(
        F.count("*").alias("_cnt"),
        F.min(F.struct("eid", "pos")).alias("_first"))
    kept = (
        lines.join(stats, "line")
        .where((F.col("_cnt") < min_count)
               | (F.lit(keep_first)
                  & (F.struct("eid", "pos") == F.col("_first"))))
        .select("eid", "pos", "line")
    )
    rebuilt = kept.groupBy("eid").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"]), "\n").alias("clean_text"))
    totals = lines.groupBy("eid").agg(F.count("*").alias("n_lines"))
    base = docs.select(F.col(id_col).alias("eid"))
    return (
        base.join(totals, "eid", "left").join(rebuilt, "eid", "left")
        .select("eid",
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


# PII-ish patterns: kept to constructs whose semantics are identical in
# Java regex (Spark) and DuckDB's RE2 — no backrefs, no lookaround.
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "n_phoneish": r"\+\d[\d()\- ]{7,}\d",
}


def pii_counts(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-doc counts of PII-shaped substrings (emails / IPv4 / intl
    phone numbers) — the scrubbing-pass prefilter of a training-data
    pipeline. Pure JVM regexp (codegen), one scan."""
    cols = [F.size(F.regexp_extract_all(F.col(text_col), F.lit(p), F.lit(0)))
            .cast("long").alias(name) for name, p in PII_PATTERNS.items()]
    return docs.select(F.col(id_col).alias("eid"), *cols)


def source_stats(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 source_col: str = "source") -> DataFrame:
    """Per-source (domain/crawl-feed) corpus stats — the signal a
    pipeline uses to blocklist boilerplate-heavy domains: doc count,
    exact-duplicate fraction (corpus-wide fingerprint), mean doc
    length. Two aggregations, both map-side combining."""
    d = docs.select(F.col(source_col).alias("source"),
                    F.col(id_col).alias("eid"),
                    _fingerprint(text_col).alias("fingerprint"),
                    F.length(text_col).alias("_len"))
    counts = d.groupBy("fingerprint").agg(F.count("*").alias("_fc"))
    return (
        d.join(counts, "fingerprint")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.round(F.avg(F.when(F.col("_fc") > 1, 1.0).otherwise(0.0)), 6)
             .alias("dup_frac"),
             F.round(F.avg("_len"), 6).alias("avg_len"))
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     top_ns: tuple = (2, 3, 4),
                     dup_ns: tuple = (5, 10)) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1 —
    public formulation): per document,

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of line
      *occurrences* (resp. their characters) that are repeats of an
      earlier identical line in the same doc,
    - ``dup_para_frac``: same over paragraphs (blank-line separated),
    - ``top{n}gram_char_frac`` (n in ``top_ns``): character mass of the
      most frequent word n-gram over the total n-gram character mass
      (ties: higher char length wins — deterministic),
    - ``dup{n}gram_char_frac`` (n in ``dup_ns``): character mass of
      repeated occurrences of duplicated n-grams over total n-gram
      character mass.

    Documented deviation from the paper: fractions are over *n-gram
    character mass* (sum of occurrence-count x joined char length),
    not raw doc characters — self-consistent, always in [0,1], and
    exactly SQL-expressible. Occurrences beyond the first count as
    duplicates (the paper's character-position marking is equivalent
    for non-overlapping repeats).

    Plan shape (the 100 TB story): every unit (line / paragraph /
    n-gram) goes through ONE posexplode -> groupBy(eid, kind, unit)
    count -> groupBy(eid, kind) aggregate -> conditional-agg pivot.
    All aggregates partial+final (map-side combine); a boilerplate
    line repeated 10^9 times across docs is still keyed by (eid, ...)
    so no global hot key exists by construction.
    """
    toks = T.tokens(F.col(text_col), distinct=False)

    def _units_lines(splitter):
        arr = F.filter(F.transform(splitter, lambda s: F.trim(s)),
                       lambda s: s != "")
        return arr

    def _ngrams(n):
        upper = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        arr = F.transform(
            F.sequence(F.lit(1), upper),
            lambda i: F.array_join(F.slice(toks, i, n), " "))
        # typed empty array when the doc has < n tokens
        return F.when(F.size(toks) >= n, arr).otherwise(F.slice(arr, 1, 0))

    kinds = [("line", _units_lines(F.split(F.col(text_col), "\n"))),
             ("para", _units_lines(F.split(F.col(text_col), r"\n{2,}")))]
    kinds += [(f"{n}gram", _ngrams(n)) for n in sorted(set(top_ns) | set(dup_ns))]

    units = None
    for kind, arr in kinds:
        part = docs.select(
            F.col(id_col).alias("eid"),
            F.lit(kind).alias("kind"),
            F.explode(arr).alias("unit"))
        units = part if units is None else units.unionByName(part)

    per_unit = units.groupBy("eid", "kind", "unit").agg(
        F.count("*").alias("cnt"))
    per_kind = per_unit.groupBy("eid", "kind").agg(
        F.sum("cnt").alias("tot_occ"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0))
        .alias("dup_occ"),
        F.sum(F.col("cnt") * F.length("unit")).alias("tot_chars"),
        F.sum(F.when(F.col("cnt") > 1,
                     (F.col("cnt") - 1) * F.length("unit")).otherwise(0))
        .alias("dup_chars"),
        F.max(F.struct(F.col("cnt"), F.length("unit").alias("ulen")))
        .alias("top"))

    def _frac(num, den):
        return F.round(
            F.coalesce(F.max(F.when(F.col("kind") == F.lit(num[0]),
                                    num[1].cast("double")
                                    / F.col(den).cast("double"))),
                       F.lit(0.0)), 6)

    aggs = [
        _frac(("line", F.col("dup_occ")), "tot_occ").alias("dup_line_frac"),
        _frac(("line", F.col("dup_chars")), "tot_chars")
        .alias("dup_line_char_frac"),
        _frac(("para", F.col("dup_occ")), "tot_occ").alias("dup_para_frac"),
    ]
    for n in sorted(top_ns):
        aggs.append(
            _frac((f"{n}gram",
                   F.col("top.cnt") * F.col("top.ulen")), "tot_chars")
            .alias(f"top{n}gram_char_frac"))
    for n in sorted(dup_ns):
        aggs.append(
            _frac((f"{n}gram", F.col("dup_chars")), "tot_chars")
            .alias(f"dup{n}gram_char_frac"))

    stats = per_kind.groupBy("eid").agg(*aggs)
    base = docs.select(F.col(id_col).alias("eid"))
    out_cols = [c for c in stats.columns if c != "eid"]
    return base.join(stats, "eid", "left").select(
        "eid", *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in out_cols])


def gopher_quality(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, table A1
    — public formulation): word count in [50, 100k], mean word length
    in [3, 10], symbol-to-word ratio (# and "...") <= 0.1, >= 80% words
    with an alphabetic char, >= 2 distinct common stopwords present,
    < 90% lines starting with a bullet, < 30% lines ending in "...".
    Emits each signal plus the conjunction ``passes`` — all column
    expressions, one scan, exact-SQL oracle.

    NULL text is treated as empty text (``passes`` = 0), never a NULL
    ``passes`` — otherwise a null-text doc matches neither the pass nor
    the fail branch downstream and silently vanishes from a cleaning
    pipeline."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = T.tokens(txt, distinct=False)
    n = F.size(toks)
    lines_arr = F.filter(F.transform(F.split(txt, "\n"),
                                     lambda s: F.trim(s)),
                         lambda s: s != "")
    n_lines = F.size(lines_arr)
    mean_wl = F.when(n > 0, F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t)).cast("double") / n
    ).otherwise(F.lit(0.0))
    n_hash = F.size(F.regexp_extract_all(txt, F.lit(r"#"), F.lit(0)))
    n_ellip = F.size(F.regexp_extract_all(txt, F.lit(r"\.\.\."), F.lit(0)))
    sym_ratio = F.when(n > 0, (n_hash + n_ellip).cast("double") / n) \
        .otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_frac = F.when(n > 0, alpha_words.cast("double") / n) \
        .otherwise(F.lit(0.0))
    sw = F.array([F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), sw))
    bullet_frac = F.when(n_lines > 0, F.size(
        F.filter(lines_arr, lambda s: s.startswith("-") | s.startswith("*"))
    ).cast("double") / n_lines).otherwise(F.lit(0.0))
    ellip_frac = F.when(n_lines > 0, F.size(
        F.filter(lines_arr, lambda s: s.endswith("..."))
    ).cast("double") / n_lines).otherwise(F.lit(0.0))
    passes = ((n >= 50) & (n <= 100000)
              & (mean_wl >= 3) & (mean_wl <= 10)
              & (sym_ratio <= 0.1) & (alpha_frac >= 0.8) & (n_stop >= 2)
              & (bullet_frac < 0.9) & (ellip_frac < 0.3))
    return docs.select(
        F.col(id_col).alias("eid"),
        n.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellip_frac, 6).alias("ellipsis_line_frac"),
        passes.cast("long").alias("passes"),
    )
