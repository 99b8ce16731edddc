"""Tokenization / shingling / hashing column expressions.

All functions return Spark Column expressions built from
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen friendly) — no
per-row Python anywhere in the hot path.

Reference semantics reproduced:
- token split ``re.split('[\\W_]', s.lower())`` + drop empties
  (reference src/pyjedai/block_building.py:503-512).
- q-grams: char n-grams of each token; tokens shorter than q are kept
  whole (block_building.py:539-562).
- suffixes of length >= ``suffix_length``; shorter tokens kept whole
  (block_building.py:599-618).
- all substrings of length >= ``suffix_length`` (block_building.py:655-675).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# `\W` in Java/RE2/Python-on-ASCII all agree for ASCII text; the synthetic
# webtext corpus is ASCII. Documented delta: for non-ASCII pages Python's
# str `\W` is unicode-aware while Java's default is not.
TOKEN_SPLIT_PATTERN = r"[\W_]"

# 2^32 < p, prime — universal-hash modulus for MinHash permutations.
MERSENNE_PRIME_ISH = 4294967311


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(col, pattern: str = TOKEN_SPLIT_PATTERN, distinct: bool = True) -> Column:
    """lowercase -> split -> drop '' -> (optionally) distinct.

    Mirrors StandardBlocking._tokenize_entity
    (block_building.py:503-512: ``list(set(filter(None, re.split(...))))``).
    """
    toks = F.filter(F.split(F.lower(_col(col)), pattern), lambda x: x != F.lit(""))
    return F.array_distinct(toks) if distinct else toks


def whitespace_tokens(col, distinct: bool = False) -> Column:
    """Whitespace tokenizer of the matching stage (matching.py:385-386)."""
    toks = F.filter(F.split(_col(col), r"\s+"), lambda x: x != F.lit(""))
    return F.array_distinct(toks) if distinct else toks


def char_qgrams(col, q: int, distinct: bool = True) -> Column:
    """Char q-grams of the *whole* lowercased string (joins.py:187:
    ``nltk.ngrams(entity.lower(), n=q)``; grams joined by ' ' there, we
    keep the raw q-char slice — same set cardinalities)."""
    s = F.lower(_col(col))
    grams = F.when(F.length(s) < q, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - F.lit(q - 1)),
            lambda i: s.substr(i, F.lit(q)),
        )
    )
    return F.array_distinct(grams) if distinct else grams


def token_qgrams(tokens_col, q: int) -> Column:
    """Q-grams of each token; tokens shorter than q kept whole
    (QGramsBlocking, block_building.py:539-562)."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                _col(tokens_col),
                lambda t: F.when(F.length(t) < q, F.array(t)).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.length(t) - F.lit(q - 1)),
                        lambda i: t.substr(i, F.lit(q)),
                    )
                ),
            )
        )
    )


def token_suffixes(tokens_col, suffix_length: int) -> Column:
    """All suffixes with len >= suffix_length; shorter tokens kept whole
    (SuffixArraysBlocking, block_building.py:599-618)."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                _col(tokens_col),
                lambda t: F.when(F.length(t) < suffix_length, F.array(t)).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.length(t) - F.lit(suffix_length - 1)),
                        lambda i: t.substr(i, F.length(t)),  # substr clamps to end
                    )
                ),
            )
        )
    )


def token_substrings(tokens_col, min_length: int, max_token_len: int = 24) -> Column:
    """Every substring with len >= min_length; shorter tokens kept whole
    (ExtendedSuffixArraysBlocking, block_building.py:655-675). Token
    length capped (combinatorial guard for webtext junk tokens)."""
    t_ = _col(tokens_col)
    return F.array_distinct(
        F.flatten(
            F.transform(
                t_,
                lambda t: F.when(F.length(t) < min_length, F.array(t)).otherwise(
                    F.flatten(
                        F.transform(
                            # start positions
                            F.sequence(
                                F.lit(1),
                                F.least(F.length(t), F.lit(max_token_len))
                                - F.lit(min_length - 1),
                            ),
                            lambda i: F.transform(
                                # lengths from min_length up to remaining
                                F.sequence(
                                    F.lit(min_length),
                                    F.least(F.length(t), F.lit(max_token_len)) - i + 1,
                                ),
                                lambda L: t.substr(i, L),
                            ),
                        )
                    )
                ),
            )
        )
    )


# nltk's English stopword list (public; reference downloads it at
# datamodel.py:318 — embedded here so the container needs no nltk).
NLTK_EN_STOPWORDS = [
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't",
    "won", "won't", "wouldn", "wouldn't",
]


def clean_text(col, remove_stopwords: bool = True,
               remove_punctuation: bool = True, remove_numbers: bool = True,
               remove_unicodes: bool = True) -> Column:
    """clean_dataset normalization (datamodel.py:310-353) as one column
    expression chain, same operation ORDER as the reference: lower ->
    strip digits -> strip non-ASCII -> strip punctuation (keep \\w\\s) ->
    drop stopwords (whitespace split, single-space rejoin)."""
    s = F.lower(_col(col))
    if remove_numbers:
        s = F.regexp_replace(s, r"\d+", "")
    if remove_unicodes:
        s = F.regexp_replace(s, r"[^\x00-\x7F]+", "")
    if remove_punctuation:
        s = F.regexp_replace(s, r"[^\w\s]", "")
    if remove_stopwords:
        stop = F.array(*[F.lit(x) for x in NLTK_EN_STOPWORDS])
        words = F.filter(F.split(s, r"\s+"),
                         lambda x: (x != F.lit("")) & ~F.array_contains(stop, x))
        s = F.array_join(words, " ")
    return s


def token_qgram_combo_keys(tokens_col, q: int = 6, threshold: float = 0.95,
                           max_qgrams: int = 15) -> Column:
    """ExtendedQGramsBlocking keys (block_building.py:714-773): per
    token, q-grams (first <= MAX_QGRAMS=15); keys = concatenations of
    every ordered q-gram combination of size >= max(1, floor(L*t)).

    Column-expression fast path for the t >= 14/15 regime (the 0.95
    default): there floor(L*t) = L-1 for all L in 2..15, so the key set
    is exactly {full concatenation} ∪ {drop-one concatenations} —
    generated with slice/array_join, no UDF. Lower thresholds are
    combinatorial: ``block_building.extended_qgrams_blocking`` routes
    them to its pandas-UDF key builder.
    """
    if threshold < 14.0 / 15.0:
        raise ValueError("column-expression path needs threshold >= 14/15; "
                         "extended_qgrams_blocking(threshold=...) handles "
                         "lower thresholds")
    t_ = _col(tokens_col)

    def per_token(tok):
        grams_all = F.transform(
            F.sequence(F.lit(1), F.length(tok) - F.lit(q - 1)),
            lambda i: tok.substr(i, F.lit(q)),
        )
        g = F.slice(grams_all, 1, max_qgrams)
        n = F.size(g)
        full = F.array_join(g, "")
        drop_one = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.array_join(F.slice(g, 1, i - 1), ""),
                F.array_join(F.slice(g, i + F.lit(1), n - i), ""),
            ),
        )
        return (
            F.when(F.length(tok) < q, F.array(tok))
            .when(F.length(tok) == q, F.array(tok))
            .otherwise(F.concat(F.array(full), drop_one))
        )

    return F.array_distinct(F.flatten(F.transform(t_, per_token)))


def word_shingles(tokens_col, w: int, join_sep: str = " ") -> Column:
    """w-token rolling shingles (non-distinct order preserved) from a
    *non-distinct* token array — the unit for substring/long-span dedup."""
    t_ = _col(tokens_col)
    n = F.size(t_)
    return F.when(n < w, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(w - 1)),
            lambda i: F.array_join(F.slice(t_, i, w), join_sep),
        )
    )
