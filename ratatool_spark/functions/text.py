"""Text-analysis columns for large-scale training-data pipelines:
tokenization, shingling, quality scoring, language ID, fingerprinting.

All pure ``pyspark.sql.functions`` expressions — no Python in the data
path, so they survive whole-stage codegen and a 100 TB scan. Each has a
deliberately SQL-expressible form (the formulas are simple arithmetic over
split arrays) so oracle parity can be checked in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ratatool_spark.functions.hashing import portable_hash64

# Tiny per-language function-word profiles for the n-gram/stopword language
# ID heuristic. Deliberately small and explicit — a real deployment swaps in
# larger profiles; the *operator shape* (score-per-language argmax over a
# token join) is what scales.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "is", "in", "to", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization: trim + split on single spaces. (A BPE-ish
    regex split is ``F.split(text, r"\\s+|(?=[^\\w\\s])")`` — kept simple
    here for cross-engine parity.)"""
    return F.split(F.trim(text), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization: punctuation split into its own tokens
    (the GPT-style pre-tokenizer shape, minus byte-level merges).
    Implemented as space-insertion + whitespace split rather than a
    lookahead regex so any RE2-based engine (DuckDB oracle) can compute
    the identical token stream."""
    spaced = F.regexp_replace(text, r"([^\w\s])", r" $1 ")
    return F.filter(F.split(F.trim(spaced), r"\s+"), lambda t: t != "")


# Polynomial rolling-hash parameters: Mersenne prime modulus keeps every
# intermediate under 2^36 (no bigint overflow in any engine), base 31 is
# the classic Rabin-Karp choice.
ROLL_P = 2_147_483_647
ROLL_B = 31


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: Rabin-Karp polynomial rolling
    hash folded over the token stream, h = (h*31 + hash(token)) mod P.

    Unlike the set-style shingle/minhash fingerprints this distinguishes
    permutations of the same tokens — the primitive for content-defined
    chunking and incremental re-fingerprinting (update by one token in
    O(1)). Left-fold via F.aggregate, reproducible in SQL with
    list_reduce."""
    return F.aggregate(
        F.transform(tokens(text), lambda t: portable_hash64(t) % ROLL_P),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLL_B + x) % ROLL_P,
    )


def winnow_fingerprints(
    text: Column, k: int = 3, window: int = 4
) -> Column:
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03, the MOSS
    algorithm, leftmost-min variant): hash every word k-gram, slide a
    window of ``window`` consecutive gram hashes, and keep each window's
    minimum (with its gram position). Guarantees: any shared run of
    ``k + window - 1`` words between two documents shares at least one
    fingerprint — the position-aware candidate primitive between
    whole-document hashing (``rolling_fingerprint``) and per-gram
    inverted indexes (which keep every gram).

    Returns ``array<struct<pos,fp>>`` with duplicates (adjacent windows
    picking the same minimum) preserved — ``array_distinct`` or a
    downstream DISTINCT collapses them. Pure expressions, zip-of-slices
    shape: the windows are ``arrays_zip`` of ``window`` shifted copies of
    the gram-hash array — a ``slice(hashes, start, window)`` inside the
    per-window lambda would re-evaluate the whole md5 gram-hash array per
    WINDOW (O(grams^2) hashes per document; measured 50x slower on the
    sf0.1 gate). The hash array itself is evaluated exactly ONCE per row:
    it rides as the single element of a ``transform`` lambda, whose bound
    variable is a computed VALUE — referencing it ``window`` times for
    the slices is free, where a plain column expression would recompute
    every md5 per reference (measured ~2x on the sf0.1 gate). Per-window
    min via ``least``, leftmost position via a coalesced when-chain —
    engine-reproducible."""
    if k <= 0 or window <= 0:
        raise ValueError("k and window must be positive")
    hashes = F.transform(word_ngrams(text, k), lambda g: portable_hash64(g))

    def _fp(s, i):
        # arrays_zip pads trailing slices with NULL when the doc has
        # fewer than `window` grams; least() skips them, as array_min did.
        fp = F.least(*[s[f"h{j}"] for j in range(window)])
        j0 = F.coalesce(
            *[F.when(s[f"h{j}"] == fp, F.lit(j)) for j in range(window)]
        )
        return F.struct(
            (i.cast("long") + 1 + j0).alias("pos"), fp.alias("fp")
        )

    def _wins(h):
        m = F.greatest(F.lit(1), F.size(h) - F.lit(window - 1))
        z = F.arrays_zip(
            *[F.slice(h, j + 1, m).alias(f"h{j}") for j in range(window)]
        )
        return F.transform(z, _fp)

    return F.element_at(F.transform(F.array(hashes), _wins), 1)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams — the dedup shingle set. Array-expression only:
    zip the token array with its n-1 shifted copies, concat each tuple.

    The zip-of-slices shape matters for speed: a column reference inside a
    higher-order-function lambda is re-evaluated per *element*, so building
    shingles with ``element_at(tokens(text), i+j)`` re-splits the text for
    every shingle (~n·|tokens| splits per row). Here ``tokens`` is
    evaluated n times per *row*, then the per-element lambda only touches
    struct fields (~18x on the bench corpus)."""
    return F.array_distinct(word_ngrams(text, n))


def word_ngrams(text: Column, n: int = 2) -> Column:
    """All word n-gram occurrences, duplicates preserved — the repetition
    counter's input (``word_shingles`` minus the ``array_distinct``; same
    zip-of-slices shape, see that docstring for why). The token array is
    additionally evaluated exactly ONCE per row (the bind-once lambda
    trick of ``winnow_fingerprints``): the n+1 references the slices and
    the size guard make would otherwise each re-split the text."""

    def _grams(w):
        m = F.greatest(F.size(w) - (n - 1), F.lit(1))
        z = F.arrays_zip(
            *[F.slice(w, j + 1, m).alias(f"w{j}") for j in range(n)]
        )
        return F.transform(
            z, lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])
        )

    return F.element_at(F.transform(F.array(tokens(text)), _grams), 1)


# PII patterns, deliberately RE2-compatible (no lookaround/backrefs) so the
# exact same regex runs in Spark (Java regex), DuckDB (RE2), and BigQuery
# (RE2) — the redaction is warehouse-reproducible like the sampling dice.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ipv4, n_phones) match counts — audit columns for a
    redaction pass. Pure ``regexp_extract_all`` expressions."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0))),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0))),
    )


def redact_pii(text: Column) -> Column:
    """Replace emails / IPv4s / phone-like numbers with typed placeholder
    tokens. Order matters and is fixed: emails first (they contain dots
    and digits), then IPs, then phones — the same chain must run in any
    oracle engine for byte parity."""
    out = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, IPV4_RE, "[IP]")
    return F.regexp_replace(out, PHONE_RE, "[PHONE]")


def _bind(value: Column, f) -> Column:
    """Evaluate ``f`` with ``value`` bound ONCE per row as a lambda
    variable (the winnow/word_ngrams idiom). Higher-order-function
    expressions are interpreted (CodegenFallback) — no common-subexpression
    elimination — so a computed Column referenced N times is re-evaluated
    N times per row; bound as a lambda value, the N references are free
    attribute reads."""
    return F.element_at(F.transform(F.array(value), f), 1)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length saturation + lexical diversity
    + stopword presence. The weights are illustrative; the shape (cheap
    column arithmetic, no UDF — tokenize bound once per row) is the point."""

    def _score(w: Column) -> Column:
        denom = F.greatest(F.size(w), F.lit(1))
        length_part = F.least(F.size(w) / F.lit(100.0), F.lit(1.0))
        dr = F.size(F.array_distinct(w)) / denom
        sr = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS))) / denom
        return (
            F.lit(0.4) * length_part
            + F.lit(0.4) * dr
            + F.lit(0.2) * F.least(sr * F.lit(5.0), F.lit(1.0))
        )

    return _bind(tokens(text), _score)


def _marker_ratio(markers: tuple[str, ...]):
    def _ratio(w: Column) -> Column:
        return F.size(F.filter(w, lambda t: t.isin(*markers))) / F.greatest(
            F.size(w), F.lit(1)
        )

    return _ratio


def lang_id(text: Column) -> Column:
    """Argmax language over marker-hit ratios; ties and no-hits fall back to
    'und'. Two bind-once levels: the token array is evaluated once per row,
    then the score VECTOR is evaluated once per row — the argmax when-chain
    reads bound array elements instead of re-filtering the tokens (which,
    through the repeated ``greatest`` in every branch, re-tokenized the
    text >100x per row for a no-match document)."""
    langs = list(LANG_MARKERS)

    def _scores(w: Column) -> Column:
        return F.array(*[_marker_ratio(LANG_MARKERS[lg])(w) for lg in langs])

    def _pick(sc: Column) -> Column:
        s = [F.element_at(sc, i + 1) for i in range(len(langs))]
        best = F.greatest(*s)
        result = F.lit("und")
        # reversed so earlier languages win ties (stable, documented order)
        for i in reversed(range(len(langs))):
            result = F.when((s[i] == best) & (best > 0), F.lit(langs[i])).otherwise(
                result
            )
        return result

    return _bind(_bind(tokens(text), _scores), _pick)


def fingerprint(text: Column, hasher: str = "portable") -> Column:
    """Deterministic 60-bit document fingerprint over normalized text
    (lowercase, collapsed whitespace) — content-addressable doc identity for
    exact dedup at scale. ``hasher="xx"`` for the Spark-native fast path
    (see functions.hashing.text_hash64)."""
    from ratatool_spark.functions.hashing import text_hash64

    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return text_hash64(normalized, hasher)


SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
CARD_RE = r"\b\d{4}-\d{4}-\d{4}-\d{4}\b|\b\d{16}\b"


def luhn_valid(s: Column) -> Column:
    """True when the digit content of ``s`` passes the Luhn checksum and
    has a plausible PAN length (13-19 digits) — the audit companion to
    card-shaped regex matches: a 16-digit run that fails Luhn is almost
    always an ID/hash, not a card, and should not be counted as PII.

    Pure expressions (reverse + per-position fold via ``aggregate``),
    replaying exactly in any engine with list folds (the oracle uses
    DuckDB ``list_reduce``). The digit string and the reversed char array
    are each BOUND once (lambda values): referenced directly, every
    per-position ``d(i)`` would re-run the regexp strip + reverse + split
    chain (interpreted HOFs, no CSE) — ~5 chain evaluations per digit."""
    digits = F.regexp_replace(s, r"[^0-9]", "")

    def _outer(dg: Column) -> Column:
        n = F.length(dg)
        chars = F.split(F.reverse(dg), "")

        def _inner(ch: Column) -> Column:
            d = lambda i: F.element_at(ch, i).cast("int")  # noqa: E731
            term = lambda i: F.when(  # noqa: E731
                i % 2 == 0,
                F.when(d(i) * 2 > 9, d(i) * 2 - 9).otherwise(d(i) * 2),
            ).otherwise(d(i))
            # The fold is gated on the 13-19 digit window: with no digits
            # at all split("") yields [''] and element_at('').cast(int)
            # RAISES under ANSI mode (Spark 4 default) — a public helper
            # must return false on arbitrary strings, not error. when()
            # short-circuits per-row.
            total = F.when(
                (n >= 13) & (n <= 19),
                F.aggregate(
                    F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                    F.lit(0),
                    lambda acc, i: acc + term(i),
                ),
            )
            return (n >= 13) & (n <= 19) & (total % 10 == 0)

        return _bind(chars, _inner)

    return _bind(digits, _outer)


def pii_counts_extended(text: Column) -> tuple[Column, Column, Column]:
    """(n_ssn, n_card_shaped, n_card_luhn_valid) — the US-SSN and
    payment-card audit columns. ``n_card_shaped`` counts regex matches;
    ``n_card_luhn_valid`` counts the subset passing :func:`luhn_valid`
    (the number a compliance report should cite)."""
    cards = F.regexp_extract_all(text, F.lit(CARD_RE), F.lit(0))
    return (
        F.size(F.regexp_extract_all(text, F.lit(SSN_RE), F.lit(0))),
        F.size(cards),
        F.size(F.filter(cards, luhn_valid)),
    )


def redact_pii_extended(text: Column) -> Column:
    """:func:`redact_pii` plus SSN and card-shaped redaction. The card
    rule is regex-shaped (every 16-digit run goes — over-redaction is the
    safe failure mode for training data); use ``pii_counts_extended`` for
    the Luhn-verified audit number."""
    out = redact_pii(text)
    out = F.regexp_replace(out, SSN_RE, "[SSN]")
    return F.regexp_replace(out, CARD_RE, "[CARD]")
