"""Text-analysis function pack for training-data pipelines
(SURVEY.md §7 M3: n-gram/token profiles, language stats).

Everything is built from JVM regex/string/higher-order functions —
column expressions usable in any query, no Python row path. The only
driver-side state is the small static stopword table for language ID.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish tokenization: letter runs | single digits | non-alnum marks.
# A real BPE vocabulary merges subwords; this regex over-segments by
# design (an upper bound on token count) while staying engine-portable.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "que", "no"],
}


def whitespace_token_count(col: Column | str) -> Column:
    """Number of whitespace-delimited tokens."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Upper-bound token estimate via BPE_ISH_PATTERN matches."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def alpha_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^A-Za-z]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]-]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0, 1] quality heuristic: rewards alphabetic content
    and mid-length tokens, penalizes punctuation soup — the usual
    first-pass web-scrape filter shape."""
    c = F.col(col) if isinstance(col, str) else col
    mean_tok_len = F.length(F.trim(c)) / F.greatest(whitespace_token_count(c), F.lit(1))
    len_term = F.least(mean_tok_len / F.lit(8.0), F.lit(1.0))
    return F.round(
        F.least(
            F.greatest(
                alpha_ratio(c) * 0.6 + len_term * 0.3 + (1 - punct_ratio(c)) * 0.1,
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
        4,
    )


def lang_scores(col: Column | str) -> Column:
    """Map of language -> stopword-hit count (the raw signal)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    entries = []
    for lang, words in STOPWORDS.items():
        stops = F.array(*[F.lit(s) for s in words])
        entries.append(
            F.struct(
                F.lit(lang).alias("lang"),
                F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).alias("hits"),
            )
        )
    return F.array(*entries)


def _bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable — ``element_at(transform(array(col), fn), 1)``.
    Column-expression composition INLINES a subexpression into every
    reference, and optimizer CSE does not reach interpreted
    higher-order subtrees, so an expensive expression referenced n
    times executes n times per row (r15: repetition_profile carried
    17 regexp_replace copies, lang_id re-split per language). Use for
    non-cheap columns consumed more than once inside one projection."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def lang_id(col: Column | str, min_hits: int = 1) -> Column:
    """Predicted language: argmax of stopword hits (ties broken by the
    lexicographically greatest language code — array_max over
    struct(hits, lang) compares lang strings when hits tie, so an en/fr
    tie picks 'fr'; the generated DuckDB oracle mirrors this with ORDER
    BY hits DESC, lang DESC), 'und' (undetermined) below
    ``min_hits``.

    The token split and the argmax struct are each bound ONCE per row
    (_bind_once; r15): the former lang_scores composition re-ran the
    split per language and the best-struct access pattern doubled the
    whole scoring tree — measured 2.10 -> 1.46 s on the 10x fixture
    with identical outputs."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")

    def over_toks(tk):
        entries = []
        for lang, words in STOPWORDS.items():
            stops = F.array(*[F.lit(s) for s in words])
            entries.append(
                F.struct(
                    F.size(
                        F.filter(tk, lambda t: F.array_contains(stops, t))
                    ).alias("hits"),
                    F.lit(lang).alias("lang"),
                )
            )
        best = F.array_max(F.array(*entries))
        return _bind_once(
            best,
            lambda b: F.when(b["hits"] >= min_hits, b["lang"]).otherwise(
                F.lit("und")
            ),
        )

    return _bind_once(toks, over_toks)


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): hash every
    k-gram, slide a ``window``-wide frame over the hash sequence, keep
    each frame's minimum — guaranteeing any match of length
    >= k + window - 1 shares a fingerprint. DataFrame[doc_id,
    fingerprint] distinct.

    The whole winnow runs inside array expressions on the document's
    own row — hash array, per-position frame min (``least`` over
    ``window`` end-clamped ``element_at`` lookups; clamped indices
    duplicate the last hash, which cannot change a min), then
    ``array_distinct`` — so the plan has NO shuffle at all: no window
    sort, no global distinct (rows are already unique per doc). A
    doc's state is ~16 bytes per character in one row buffer;
    fingerprinting callers should pre-truncate multi-MB documents.
    Input goes through ``fan_out`` with no size floor: unlike the
    bare k-mer count (where tiny inputs run faster on one task), the
    per-character least-of-``window`` frame min is heavy enough that
    fan-out wins even at toy scale (measured 2.3s -> 1.2s on 1.5 MB).

    Each k-gram hashes to the md5-derived 60-bit value
    (functions/porthash.py) that DuckDB reproduces bit-identically,
    so the declared query carries a full value-hash oracle."""
    from ..sources.tables import fan_out

    base = fan_out(docs.where(F.length(text_col) >= k))
    gram = f"substring({text_col}, i, {k})"
    hash_sql = f"cast(conv(substring(md5({gram}), 1, 15), 16, 10) AS bigint)"
    hashes = F.expr(
        f"transform(sequence(1, length({text_col}) - {k} + 1), i -> {hash_sql})"
    )
    if window <= 1:
        frame_min = "element_at(_h, j)"
    else:
        lookups = ", ".join(
            f"element_at(_h, least(j + {d}, size(_h)))" for d in range(window)
        )
        frame_min = f"least({lookups})"
    fps = F.expr(f"array_distinct(transform(sequence(1, size(_h)), j -> {frame_min}))")
    return (
        base.select(F.col(id_col), hashes.alias("_h"))
        .select(F.col(id_col), F.explode(fps).alias("fingerprint"))
    )


def repetition_profile(col: Column | str) -> Column:
    """Gopher-style repetition signals as ONE struct column of exact
    integers, computed entirely in JVM array expressions — per-doc
    quality filtering needs NO shuffle, just a scan (the published
    filters threshold on ratios; integer numerators/denominators are
    emitted so consumers — and oracles — form the ratios themselves):

    - n_words: whitespace tokens after normalization
    - n_bigrams / n_dup_bigrams: overlapping word 2-grams and how many
      are repeats (dup fraction = repeated-phrase signal)
    - top_word_count: occurrences of the most frequent token (top-word
      fraction = degenerate-repetition signal), found by a fold over
      the sorted token array (longest equal run) — no explode/groupBy.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "), " ")

    def _rep_struct(tk):
        n_words = F.size(tk)
        # bigrams as zip_with over two shifted slices: the slices are
        # ARGUMENTS (evaluated once per row) and the lambda touches
        # only its own variables. Bigram identity travels as the
        # 8-byte xxhash64 of the token pair, never a concatenated
        # string (r15): the dup count needs only within-row equality,
        # and dedup over longs beat strings by ~0.7 s at the 10x
        # fixture. The running-seed construction frames each token, so
        # ('ab','c') vs ('a','bc') cannot alias; a within-row hash
        # collision (~n_bigrams^2/2^64 per doc, <=2e-15 at fixture
        # doc sizes) would undercount n_dup_bigrams by 1 — the same
        # accepted-odds class as the decontam gram keys.
        bigram_keys = F.when(
            n_words >= 2,
            F.zip_with(
                F.slice(tk, 1, n_words - 1),
                F.slice(tk, 2, n_words - 1),
                lambda a, b: F.xxhash64(a, b),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        n_bigrams = F.size(bigram_keys)
        n_dup = n_bigrams - F.size(F.array_distinct(bigram_keys))
        run = F.aggregate(
            F.sort_array(tk),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        return F.struct(
            n_words.alias("n_words"),
            n_bigrams.alias("n_bigrams"),
            n_dup.alias("n_dup_bigrams"),
            run.alias("top_word_count"),
        )

    # Bind the token array ONCE (_bind_once): the struct's four fields
    # reference `toks` ~17 times between them, and the physical plan
    # carried 17 regexp_replace copies (r15). Measured 6.39 -> 2.17 s
    # at the 10x fixture with the plan showing exactly ONE
    # regexp_replace (pinned by tests/test_decontam.py).
    return _bind_once(toks, _rep_struct)
