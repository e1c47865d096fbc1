"""Text-analysis column functions: normalization, fingerprinting,
tokenization, shingling, quality scoring, language ID.

Design rules (these run on 100 TB of documents):
* Pure built-in expressions — whole-stage codegen, no Python round-trips.
* Deterministic and engine-portable: every function has an exact ANSI-SQL
  mirror used by the DuckDB oracles (queries/text.py), so semantics are
  pinned, not implementation-defined.
* ASCII-level normalization (the training-data cleaning default);
  Unicode-class variants would only change the regex character classes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword core — enough for quality ratios and lang scoring.
EN_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "for", "on")

# Marker words per language for the n-gram/stopword lang-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ein", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "un", "est"),
}
# Deterministic priority for score ties (argmax tie-break).
LANG_PRIORITY = ("en", "de", "es", "fr")


def words(col: Column) -> Column:
    """Non-empty word runs ([a-z0-9]+) of the lowered text, in order —
    exactly the words of :func:`normalized`, extracted with ONE regex
    pass (split on separator runs) instead of three (two replaces + a
    trim) plus a split. NULL text propagates NULL; text with no words
    (empty / all-punctuation) yields [], where :func:`tokens` yields
    [''] — consumers that depend on the ['']-artifact go through
    :func:`tokens`, everything word-shaped uses this.

    Measured on the sf0.1 documents corpus: tokenization 0.398s ->
    0.215s; the downstream composites (fingerprint, lang_id, shingles)
    gain 2-30x because every extra
    regex pass was re-evaluated per expression reference in the
    interpreted (higher-order-function) projections."""
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )


def normalized(col: Column) -> Column:
    """lower -> strip non-alphanumerics -> collapse whitespace -> trim.

    SQL mirror: TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(x),
    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) — computed as the
    space-join of :func:`words`, which is the same value (words joined
    by single spaces; '' when no words survive; NULL for NULL) in one
    regex pass instead of three (equality asserted by every oracle twin
    that embeds the SQL mirror).
    """
    return F.array_join(words(col), " ")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 is standard across engines — the portable choice for an
    exact-dedup key (a rolling/xx-hash would be faster but
    engine-specific; at scale the md5 cost is dwarfed by the shuffle)."""
    return F.md5(normalized(col))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalized(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# BPE-style pre-tokenization pattern (word runs vs single
# punctuation/symbol, the GPT-2 pre-tokenizer shape without byte-level
# merges). Shared verbatim with the SQL oracle.
BPE_PATTERN = r"[a-z0-9]+|[^a-z0-9\s]"


def bpe_tokens(col: Column) -> Column:
    """Sub-word-ish tokens over lowered text: alnum runs and individual
    symbols. A stand-in for tokenizer-aware counting where the real BPE
    vocab lives model-side; the count correlates with token billing."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_PATTERN), F.lit(0))


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def word_shingles(tokens_col: Column, n: int = 3) -> Column:
    """n-word shingles as space-joined strings; [] when fewer than n
    tokens (guarded: Spark's sequence(1,0) counts *down*)."""
    return F.when(F.size(tokens_col) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)),
        )
    )


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ]; NULL for empty
    text (ANSI mode raises on /0 where DuckDB would return inf — NULLIF
    on both sides keeps the engines aligned)."""
    stripped = F.regexp_replace(col, "[a-zA-Z0-9 ]", "")
    return F.length(stripped) / F.nullif(F.length(col), F.lit(0))


def stopword_ratio(col: Column) -> Column:
    """Stopword hits / token count, in ONE fold over the raw split
    (word count and hit count accumulated together) instead of two
    array passes over a thrice-regexed token array. Semantics pinned
    to the original ``hits / size(tokens)``: a no-word doc divides by
    1 (tokens() yields [''] there) -> 0.0; NULL text -> NULL (the
    aggregate propagates the NULL array)."""
    raw = F.split(F.lower(col), "[^a-z0-9]+")
    zero = F.struct(F.lit(0).alias("n"), F.lit(0).alias("hits"))

    def step(acc: Column, t: Column) -> Column:
        return F.struct(
            (acc["n"] + F.when(t != "", 1).otherwise(0)).alias("n"),
            (acc["hits"] + F.when(t.isin(*EN_STOPWORDS), 1)
             .otherwise(0)).alias("hits"),
        )

    return F.aggregate(
        raw, zero,
        step,
        lambda acc: acc["hits"] / F.greatest(acc["n"], F.lit(1)),
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low
    punctuation, presence of function words — the standard cheap
    pre-filter before expensive model scoring."""
    len_score = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 5, F.lit(1.0))
    stop_sig = F.least(stopword_ratio(col) * 4, F.lit(1.0))
    return len_score * 0.4 + punct_pen * 0.3 + stop_sig * 0.3


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    # plain closure: PySpark inspects lambda arity, so no default args
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-word hit count per language over normalized tokens."""
    toks = tokens(col)
    return {
        lang: _marker_hits(toks, markers) for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language as a sequential CASE (priority order breaks ties);
    'und' (undetermined) when no marker hits at all.

    SQL mirror: CASE WHEN s_en+s_de+s_es+s_fr = 0 THEN 'und'
    WHEN s_en >= GREATEST(s_de, s_es, s_fr) THEN 'en'
    WHEN s_de >= GREATEST(s_es, s_fr) THEN 'de'
    WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END

    Computed as ONE fold over the raw token split: the four marker
    counts accumulate together and the CASE runs over the BOUND
    accumulator, so the text is tokenized once per row. The naive CASE
    over four ``size(filter(tokens, ...))`` scores re-evaluated the
    full three-regex tokenization per expression reference — 11x per
    row in the interpreted projection (higher-order functions don't
    codegen); measured 2.196s -> 0.606s over the sf0.1 corpus.
    '' split artifacts match no marker,
    so raw-split counts equal the normalized-token counts. The
    COALESCE pins the CASE chain's NULL-text result ('fr': every
    condition is unknown, so the ELSE fires) — same as the SQL mirror.
    """
    raw = F.split(F.lower(col), "[^a-z0-9]+")
    langs = tuple(LANG_MARKERS)
    zero = F.struct(*(F.lit(0).alias(k) for k in langs))

    def step(acc: Column, t: Column) -> Column:
        return F.struct(*[
            (acc[k] + F.when(t.isin(*LANG_MARKERS[k]), 1)
             .otherwise(0)).alias(k)
            for k in langs
        ])

    def fin(acc: Column) -> Column:
        total = acc["en"] + acc["de"] + acc["es"] + acc["fr"]
        return (
            F.when(total == 0, F.lit("und"))
            .when(acc["en"] >= F.greatest(acc["de"], acc["es"],
                                          acc["fr"]), F.lit("en"))
            .when(acc["de"] >= F.greatest(acc["es"], acc["fr"]),
                  F.lit("de"))
            .when(acc["es"] >= acc["fr"], F.lit("es"))
            .otherwise(F.lit("fr"))
        )

    return F.coalesce(F.aggregate(raw, zero, step, fin), F.lit("fr"))


def word_ngrams_text(col: Column, n: int) -> Column:
    """All ``n``-word substrings of the normalized text, as strings —
    pure per-row array exprs (sequence + slice in transform), no
    explode. Empty array when the doc has fewer than ``n`` tokens.

    SQL mirror: list_transform(generate_series(1, len(ws) - (n-1)),
    i -> array_to_string(ws[i : i+n-1], ' ')) — or the pairwise
    concat form used in the repetition_stats oracle."""
    toks = tokens(col)
    # guard: Spark's sequence(0, b) steps DOWNWARD for b < 0, so short
    # docs must short-circuit to an empty array, not sequence(0, -1)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_fraction(col: Column, n: int) -> Column:
    """Fraction of the doc's word n-grams that are repeats of an
    earlier n-gram in the SAME doc — the Gopher/MassiveText repetition
    signal (high => boilerplate/spam). 0.0 for docs shorter than n."""
    g = word_ngrams_text(col, n)
    return F.when(
        F.size(g) > 0,
        F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g),
    ).otherwise(F.lit(0.0))


# PII scrub patterns: intentionally simple, RE2-compatible (no
# backrefs/lookarounds) so the same pattern string runs verbatim in
# Java regex (Spark), RE2 (DuckDB), and most other engines.
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "555-[0-9]{4}"


def redact_pii(col: Column) -> Column:
    """Replace emails and (toy NANP test-prefix) phone numbers with
    typed placeholder tags — the pre-training scrub pass. Chained
    ``regexp_replace`` stays inside whole-stage codegen; at 100 TB this
    is a map-only stage fused with the scan."""
    x = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(x, PHONE_RE, "<PHONE>")


def pii_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text, via regexp_count.
    SQL mirror: len(regexp_extract_all(x, pattern))."""
    return (
        F.regexp_count(col, F.lit(EMAIL_RE)).cast("long"),
        F.regexp_count(col, F.lit(PHONE_RE)).cast("long"),
    )


def c4_keep_line(line: Column, min_words: int = 3) -> Column:
    """One C4-style boilerplate keep-decision (Raffel et al. 2020 §2.2,
    public heuristics): a line survives if it ends in terminal
    punctuation, carries at least ``min_words`` words, and mentions
    neither javascript nor cookie (the two canonical boilerplate
    markers). Pure string/array codegen — no UDF."""
    words = F.filter(F.split(line, " "), lambda w: w != "")
    low = F.lower(line)
    return (
        F.substring(line, -1, 1).isin(".", "!", "?")
        & (F.size(words) >= min_words)
        & ~low.contains("javascript")
        & ~low.contains("cookie")
    )


def c4_line_filter(lines: Column, min_words: int = 3) -> Column:
    """Filter an ``array<string>`` of lines by :func:`c4_keep_line` —
    the line-level boilerplate-removal pass every web-corpus pipeline
    runs before document-level quality gates. Higher-order ``filter``
    keeps the whole pass inside whole-stage codegen; at 100 TB this is
    a map-only stage fused with the scan, no shuffle, no Python."""
    return F.filter(lines, lambda ln: c4_keep_line(ln, min_words))


def html_to_text(col: Column) -> Column:
    """Boilerplate-free text from raw HTML — the step between a WARC
    payload and :func:`c4_line_filter` (reference scope note: the
    reference reads DOM nodes live via Selenium selectors,
    instagram_pipeline/scraper/instagram_scraper.py; an archive
    pipeline strips markup in bulk instead).

    Pure codegen regex chain (RE2-portable subset — no lookaround, no
    backrefs — so the SQL oracle mirrors it verbatim):

    1. drop <script>/<style> subtrees and <!-- comments --> (their text
       is code, not content);
    2. turn block-closing tags (</p>, </div>, </li>, </h1..6>, <br>)
       into newlines so line structure survives for the C4 line filter;
    3. strip every remaining tag;
    4. decode the five XML entities + &nbsp;;
    5. collapse intra-line whitespace, trim each line, drop empty lines.
    """
    x = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(
        x, r"(?i)</(p|div|li|h1|h2|h3|h4|h5|h6|tr|table|ul|ol)>|<br[^>]*>",
        "\n",
    )
    x = F.regexp_replace(x, r"(?s)<[^>]+>", " ")
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    x = F.regexp_replace(x, r"[ \t\r]+", " ")       # collapse within lines
    x = F.regexp_replace(x, r" ?\n ?", "\n")         # trim around breaks
    x = F.regexp_replace(x, r"\n+", "\n")            # drop empty lines
    return F.regexp_replace(x, r"^[ \n]+|[ \n]+$", "")  # outer trim


SCORED_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"


def sentence_count(col: Column) -> Column:
    """Sentence-terminator runs ([.!?]+), floored at 1 (a fragment is
    one sentence for readability purposes)."""
    return F.greatest(F.regexp_count(col, F.lit(r"[.!?]+")), F.lit(1))


def syllable_estimate(col: Column) -> Column:
    """Crude deterministic syllable proxy: vowel runs in the normalized
    text (the classic heuristic), floored at the word count so no word
    counts as zero syllables."""
    runs = F.regexp_count(normalized(col), F.lit("[aeiouy]+"))
    return F.greatest(runs, token_count(col))


def flesch_score(col: Column) -> Column:
    """Flesch reading ease: 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words) — the classic readability quality signal
    (low = dense/garbled, negative = word soup)."""
    words = token_count(col).cast("double")
    return (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentence_count(col))
        - F.lit(84.6) * (syllable_estimate(col) / words)
    )


def char_entropy_stripped(s: Column) -> Column:
    """:func:`char_entropy` over an ALREADY space-stripped normalized
    string. Pass a materialized column (a real attribute) when the
    caller computes other signals from the same normalization — the 36
    count terms each reference ``s`` three times, so an inline
    normalization expression would be re-evaluated ~100x per row in the
    interpreted projection (r15: readability_stats measured 3.7 s at
    sf0.1 from exactly that)."""
    n = F.nullif(F.length(s), F.lit(0)).cast("double")
    terms = []
    for ch in SCORED_CHARS:
        c = (F.length(s) - F.length(F.replace(s, F.lit(ch), F.lit("")))).cast("double")
        p = c / n
        terms.append(F.when(c > 0, -p * F.log2(p)).otherwise(F.lit(0.0)))
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def char_entropy(col: Column) -> Column:
    """Shannon entropy (bits) of the [a-z0-9] character distribution of
    the normalized text — the Dolma-style gibberish detector (natural
    prose sits ~4.1-4.3 bits; near 0 = repeated chars, near log2(36) =
    random noise).

    Computed WITHOUT an explode: each char's count is
    ``length(s) - length(replace(s, c, ''))`` — 36 fixed codegen terms,
    mirrored literally in SQL."""
    return char_entropy_stripped(F.regexp_replace(normalized(col), " ", ""))


# ---------------------------------------------------------------------------
# Encoding-damage (mojibake) detection + repair.
#
# The classic corruption in web corpora: UTF-8 bytes decoded once as
# cp1252/Latin-1 and re-encoded, so U+2019 (') surfaces as "â€™" and
# U+00E9 (é) as "Ã©" (the ftfy problem, public knowledge). We carry a
# FIXED table of the highest-frequency digraph/trigraph signatures;
# detection counts them with length arithmetic and repair is a chained
# replace in pinned longest-first order — both pure codegen, exactly
# mirrored in ANSI SQL, map-only at 100 TB.
# ---------------------------------------------------------------------------
# (damaged sequence, intended character), longest first so no entry is
# a substring of an earlier entry's replacement window.
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = (
    ("â€œ", "“"),  # â€œ -> left double quote
    ("â€™", "’"),  # â€™ -> right single quote
    ("Ã©", "é"),        # Ã© -> é
    ("Ã¨", "è"),        # Ã¨ -> è
    ("Ã¯", "ï"),        # Ã¯ -> ï
    ("Â·", "·"),        # Â· -> middle dot
)


def mojibake_hits(col: Column) -> Column:
    """Total count of known double-encoding signatures in the text.
    Each pattern's count is ``(len(s) - len(replace(s, p, ''))) / len(p)``
    — fixed codegen terms, no regex, no explode."""
    total = F.lit(0).cast("long")
    for bad, _ in MOJIBAKE_TABLE:
        cnt = (
            (F.length(col) - F.length(F.replace(col, F.lit(bad), F.lit(""))))
            / F.lit(len(bad))
        ).cast("long")
        total = total + cnt
    return total


def repair_mojibake(col: Column) -> Column:
    """Chained replace over MOJIBAKE_TABLE in pinned order (trigraphs
    before digraphs, so 'â€œ' never half-matches after 'Ã©' fires)."""
    out = col
    for bad, good in MOJIBAKE_TABLE:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def dedup_lines(lines: Column) -> Column:
    """Within-document repeated-line removal (the Dolma-style
    paragraph-dedup pass): keep each distinct line's FIRST occurrence,
    preserving order — boilerplate repeated inside one page (nav
    blocks, cookie banners pasted per section) collapses to one copy.

    Pure higher-order filter: a line survives iff its position is the
    array's first occurrence of that content. O(L^2) per document in
    the line count — map-only codegen, no explode, no shuffle; the
    corpus-wide cross-doc pass is passage_dedup/dup_spans, this is the
    in-row complement. SQL mirror:
    ``list_filter(L, (x, i) -> list_position(L, x) = i)``."""
    return F.filter(
        lines, lambda x, i: F.array_position(lines, x) == i + F.lit(1)
    )
