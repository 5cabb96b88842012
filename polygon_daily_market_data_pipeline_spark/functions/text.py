"""Text-analysis expressions for LLM-data-pipeline workloads — all
Catalyst-native (array/lambda built-ins, no Python UDFs), so they run
JVM-side inside whole-stage codegen at 100 TB.

Portability contract: every expression here has an exact ANSI/DuckDB
equivalent (md5 is the cross-engine hash primitive — identical lowercase
hex in Spark, DuckDB, and Python's hashlib), which is what lets the
dedup/similarity operators carry strong DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Deliberately small and inlineable into oracle SQL.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "et", "les", "des", "un", "est", "que"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4", "you3", "he2", "wo3"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace — the canonical form used by
    fingerprinting and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def est_bpe_tokens(col: Column | str) -> Column:
    """BPE-ish token estimate: words plus one extra token per 4 chars of
    long words (the usual ~4-chars-per-token heuristic, computed
    deterministically from whitespace tokens)."""
    t = tokens(col)
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, w: acc + 1 + F.floor(F.length(w) / 4).cast("long"),
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles (array<string>) — the unit set for
    Jaccard/MinHash near-dup detection. Empty array when the document
    has fewer than ``n`` tokens.

    Built with ONE codegen'd regex pass: at each token boundary a
    zero-width lookahead captures the next ``n`` tokens (overlapping
    windows, which a plain match can't produce). Measured ~8-10×
    faster than the transform(sequence)+slice+concat_ws HOF form it
    replaces (interpreted lambda evals cost ~100µs each), with
    byte-identical output: the normalized text has single spaces, so
    ``\\S+`` runs ARE the split-on-space tokens, matches arrive in
    document order, and array_distinct keeps first occurrence — same
    construction, same array."""
    return F.array_distinct(word_ngrams_all(col, n))


def word_ngrams_all(col: Column | str, n: int = 3) -> Column:
    """ALL overlapping n-word grams in document order (multiset — one
    entry per window, duplicates kept). The distinct form above is the
    Jaccard/MinHash unit set; this form feeds frequency-sensitive
    signals (repetition_stats). Same single codegen'd lookahead pass."""
    norm = normalize_text(col)
    pat = r"(?:^|\s)(?=(" + r"\S+" + (r" \S+" * (n - 1)) + r"))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def fingerprint_md5(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (portable across
    engines; the content-hash for exact dedup)."""
    return F.md5(normalize_text(col))


def rolling_hash(col: Column | str, base: int = 131, mod: int = 1_000_003) -> Column:
    """Polynomial rolling hash over the normalized text's characters
    (Rabin–Karp style), reduced mod a prime each step so it never
    overflows in any engine. Order-sensitive, unlike the md5 content
    hash — detects transpositions."""
    chars = F.split(normalize_text(col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.coalesce(F.ascii(ch), F.lit(0))) % mod,
    )


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords — a quality-score feature."""
    t = tokens(col)
    hits = F.size(F.filter(t, lambda w: w.isin(*stopwords)))
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(t)
    )


def distinct_token_ratio(col: Column | str) -> Column:
    """Type/token ratio — low values flag repetitive (low-quality) text."""
    t = tokens(col)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(t)).cast("double") / F.size(t)
    )


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: rewards stopword presence
    (natural prose), lexical diversity, and reasonable length —
    the length/punct/stopword-ratio recipe of heuristic text filters
    (C4/Gopher-style rules), deterministic and oracle-expressible."""
    t = tokens(col)
    n = F.size(t)
    length_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_ratio(col)
    sw_score = F.least(sw * 4, F.lit(1.0))  # saturate at 25% stopwords
    diversity = distinct_token_ratio(col)
    return F.round((length_ok + sw_score + diversity) / 3, 6)


def mean_word_len(col: Column | str) -> Column:
    """Mean token length — the Gopher 3-10-chars gate's feature. No
    per-element lambda (interpreted-HOF policy): total token chars is
    the length of the separator-free concat."""
    t = tokens(col)
    n = F.size(t)
    chars = F.length(F.concat_ws("", t))
    return F.when(n == 0, F.lit(0.0)).otherwise(chars.cast("double") / n)


def alpha_word_ratio(col: Column | str) -> Column:
    """Fraction of tokens containing at least one letter (post-
    normalization, so [a-z]) — Gopher's >0.8 rule; numeric/symbol soup
    scores low. Cheap per-element predicate over a short array — the
    declarative form the HOF policy keeps."""
    t = tokens(col)
    n = F.size(t)
    hits = F.size(F.filter(t, lambda w: w.rlike("[a-z]")))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n)


def symbol_word_ratio(col: Column | str) -> Column:
    """Symbol-to-word ratio (Gopher's <0.1 rule): '#' and '...'
    occurrences per token — boilerplate/markup tells."""
    s = normalize_text(col)
    n = F.greatest(F.size(tokens(col)), F.lit(1))
    syms = F.regexp_count(s, F.lit("#")) + F.regexp_count(
        s, F.lit(r"\.\.\.")
    )
    return syms.cast("double") / n


def gopher_pass(col: Column | str) -> Column:
    """The composite Gopher repetition-free quality gate (Rae et al.
    2021 §A1.1, the SQL-expressible subset): token count in [50, 1e5],
    mean word length in [3, 10], alpha-word fraction > 0.8, symbol
    ratio < 0.1. Both engines compute the identical doubles from the
    same integer counts, so the boolean is value-exact."""
    n = F.size(tokens(col))
    mwl = mean_word_len(col)
    return (
        (n >= 50)
        & (n <= 100000)
        & (mwl >= 3)
        & (mwl <= 10)
        & (alpha_word_ratio(col) > 0.8)
        & (symbol_word_ratio(col) < 0.1)
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit ratios (the language-ID features)."""
    t = tokens(col)
    n = F.greatest(F.size(t), F.lit(1))
    return {
        lang: F.size(F.filter(t, lambda w: w.isin(*words))).cast("double") / n
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Argmax language with deterministic tie-break (language code asc);
    'und' when no stopword hits at all."""
    scores = lang_scores(col)
    # build: greatest score, then first lang (asc) achieving it
    best = F.greatest(*scores.values())
    result = F.lit("und")
    for lang in sorted(scores, reverse=True):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    return F.when(best <= 0, F.lit("und")).otherwise(result)


def chunk_starts(toks: Column, chunk: int, overlap: int) -> Column:
    """1-based start offsets of sliding chunks: step = chunk − overlap,
    last chunk may be short; single chunk when the doc fits."""
    step = chunk - overlap
    n = F.size(toks)
    return F.when(n <= chunk, F.array(F.lit(1))).otherwise(
        F.sequence(F.lit(1), n - overlap, F.lit(step))
    )


def doc_chunks(col: Column | str, chunk: int = 100, overlap: int = 20) -> Column:
    """array<struct<chunk_idx,int chunk_text,string n_chunk_tokens,int>> —
    sliding-window chunking for training-data prep, entirely JVM-side
    (sequence + slice + concat_ws; no UDF). Overlapping windows keep
    context across boundaries; the last window is allowed to be short
    rather than dropping tail tokens."""
    t = tokens(col)
    starts = chunk_starts(t, chunk, overlap)
    return F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice(t, s, chunk)).alias("chunk_text"),
            F.least(F.size(t) - s + 1, F.lit(chunk)).alias("n_chunk_tokens"),
        ),
    )


# PII redaction patterns (Java regex — applied JVM-side). Ordered:
# specific before general so e.g. an email is not half-eaten by the
# phone pattern's digit runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # emails
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4 (word-bounded dotted quads)
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # 13–19 digit card-like runs, with optional space/dash groups
    (r"\b(?:\d[ -]?){12,18}\d\b", "<NUMBER>"),
    # phone-ish: optional +CC, 7–15 digits with separators/parens
    (r"(?<!\w)\+?\d{1,3}[ .-]?\(?\d{2,4}\)?(?:[ .-]?\d{2,4}){2,4}(?!\w)", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Training-corpus PII scrub: emails, IPv4s, card-like digit runs
    and phone-ish numbers replaced by typed placeholders. A chain of
    codegen'd ``regexp_replace`` — one linear scan per pattern, no UDF,
    so it composes with corpus cleaning at full scan speed. Pattern
    scope is the standard high-precision set (C4/RefinedWeb-style
    scrubbing); domain-specific identifiers belong in an added pattern,
    not a new mechanism."""
    c = _c(col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def repetition_stats(col: Column | str) -> dict[str, Column]:
    """Gopher/C4-style repetition signals, all codegen'd: the fraction
    of duplicate lines and of duplicate {2,3}-gram tokens in a document.
    High values flag boilerplate/spam for corpus filtering — apply as
    thresholds alongside quality_score."""
    c = _c(col)
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0)
    out = {
        "dup_line_frac": F.when(
            F.size(lines) > 0,
            1.0 - F.size(F.array_distinct(lines)) / F.size(lines),
        ).otherwise(F.lit(0.0)),
    }
    for n in (2, 3):
        grams = word_ngrams_all(c, n)
        out[f"dup_{n}gram_frac"] = F.when(
            F.size(grams) > 0,
            1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
        ).otherwise(F.lit(0.0))
    return out
