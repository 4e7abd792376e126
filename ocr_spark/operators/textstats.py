"""Text-analysis operators for corpus curation: language ID, quality
scoring, token counting, document fingerprinting.

Pure Catalyst expressions end to end — these run inside whole-stage
codegen over the documents table and are DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalize_text

# Per-language stopword inventories for the stopword-vote language-ID
# heuristic (public common-word frequency lists, 25 words/language).
# The driver oracle SQL is GENERATED from this dict
# (__spark_entry__._sql_lang_id), so Spark and DuckDB can never drift.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with",
           "that", "as", "it", "was", "at", "by", "this", "from", "are",
           "be", "have", "not", "but", "they", "his"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "del", "por",
           "las", "una", "con", "no", "para", "es", "al", "se", "su",
           "como", "más", "pero", "sus", "le", "ya"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est",
           "que", "qui", "dans", "pour", "pas", "sur", "ne", "au", "ce",
           "il", "plus", "par", "avec", "son", "se"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "ein",
           "zu", "nicht", "im", "auch", "es", "auf", "für", "eine", "als",
           "sich", "an", "werden", "aus", "er", "hat", "dass"],
    "it": ["il", "di", "che", "la", "e", "un", "per", "una", "in", "sono",
           "del", "non", "le", "si", "con", "mi", "ma", "lo", "ho", "ha",
           "questo", "della", "come", "più", "anche"],
    "pt": ["de", "a", "o", "que", "e", "do", "da", "em", "um", "para",
           "com", "não", "uma", "os", "no", "se", "na", "por", "mais",
           "as", "dos", "como", "mas", "foi", "ele"],
    "nl": ["de", "het", "een", "en", "van", "ik", "te", "dat", "die",
           "in", "is", "je", "niet", "op", "zijn", "met", "als", "voor",
           "was", "er", "maar", "om", "dan", "ook", "bij"],
}

# Unicode script ranges (public: Unicode block charts) for the
# script-vote stage of lang_id — the stopword vote is Latin-only, so
# CJK/Cyrillic/Arabic/Devanagari pages (a large share of Common Crawl)
# would otherwise all fall through to 'en'/'und'. The driver oracle SQL
# is GENERATED from these tables (__spark_entry__._sql_lang_id).
SCRIPT_RANGES = {
    "ja": "぀-ヿ",                 # hiragana + katakana
    "ko": "가-힯ᄀ-ᇿ",    # hangul syllables + jamo
    "zh": "一-鿿",                 # CJK unified ideographs
    "ru": "Ѐ-ӿ",                 # cyrillic
    "ar": "؀-ۿ",                 # arabic
    "hi": "ऀ-ॿ",                 # devanagari
}
# Precedence: kana identifies Japanese even though Japanese text is
# majority Han — check it first with a low threshold; every other
# script needs a 30% share of non-whitespace characters.
SCRIPT_ORDER = ["ja", "ko", "zh", "ru", "ar", "hi"]


def script_threshold(lang: str) -> float:
    return 0.05 if lang == "ja" else 0.30


_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _char_count(c: Column, char_class: str) -> Column:
    """Count the characters of a class with ONE counting regex pass.

    length(regexp_replace(c, '[^cls]', '')) is the obvious spelling,
    but the complement class matches nearly every character of a
    typical document, so regexp_replace fires one appendReplacement
    per character (~8.5k/doc at CC sizes) and builds a throwaway
    string per expression — measured 62x slower than regexp_count on
    the POSITIVE class (67.9s -> 1.1s for the six script counts over
    the 20k-doc bench slice), which visits each char once and only
    increments. Values are identical (verified exactly on that
    corpus; the oracle twins count the positive class on their side
    too, so nothing drifts)."""
    return F.regexp_count(c, F.lit(f"[{char_class}]"))


def _nonws_length(c: Column) -> Column:
    """Non-whitespace character count, counting form (see
    _char_count): length minus the \\s char count — identical to
    length(regexp_replace(c, '\\s+', '')) without building the
    stripped string."""
    return F.length(c) - F.regexp_count(c, F.lit(r"\s"))


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(F.trim(normalize_text(c)), " ")


def token_count(c: Column) -> Column:
    """0 for empty/whitespace-only text — F.split('', ' ') yields ['']
    and would misreport 1 (r4 review: skews corpus token statistics
    and the repetition gate's token floor). The guard runs on the
    NORMALIZED text so tab-only input counts 0 too."""
    return F.when(
        F.trim(normalize_text(F.coalesce(c, F.lit("")))) == "",
        F.lit(0)).otherwise(F.size(tokens(c)))


def bpe_ish_token_count(c: Column) -> Column:
    """Sub-word-ish token count: alpha runs + digit runs + single
    punctuation marks (a BPE-flavored regex segmentation)."""
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_ISH), 0))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    tok = tokens(c)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(tok, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(tok) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(tok))


def punct_ratio(c: Column) -> Column:
    n = F.length(c)
    p = _char_count(c, r".,;:!?'\"()\[\]{}-")
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n)


def mean_word_length(c: Column) -> Column:
    tok = tokens(c)
    total = F.aggregate(tok, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(tok) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(tok))


def quality_score(c: Column) -> Column:
    """Composite document-quality heuristic in [0,1]: length signal,
    stopword presence, sane word lengths, bounded punctuation."""
    n = F.length(F.trim(c))
    length_sig = F.least(n.cast("double") / 500.0, F.lit(1.0))
    sw = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    mwl = mean_word_length(c)
    word_sig = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_sig = F.when(punct_ratio(c) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        length_sig * 0.4 + sw * 0.3 + word_sig * 0.2 + punct_sig * 0.1, 6)


def lang_id(c: Column) -> Column:
    """Two-stage language ID, pure expressions:

    1. Unicode script vote (SCRIPT_ORDER): a script whose characters
       exceed its share threshold of the non-whitespace text wins —
       kana first at 5% (Japanese is majority Han), the rest at 30%.
    2. Latin stopword vote: the language with the most stopword hits
       wins; ties break alphabetically; no hits -> 'und'.

    PERF WARNING (measured): as a self-contained Column the captured
    ``tokens(c)`` re-evaluates inside every stopword filter and the
    cascading argmax whens re-embed earlier hit expressions, so the
    normalize+split chain runs ~L^2 times per document — 19.2s for
    2055 x 8.6 KB docs. Fine for short rows and oracle fixtures; hot
    paths use ``with_lang_guess`` (token array + script counts landed
    in real columns, one pass) — identical verdicts, shuffle-free.
    """
    tok = tokens(c)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        hits = F.size(F.filter(tok, lambda t: F.array_contains(sw, t)))
        better = hits > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, hits).otherwise(best_hits)
    nonws = _nonws_length(c)
    expr = best_lang
    for lang in reversed(SCRIPT_ORDER):
        script_chars = _char_count(c, SCRIPT_RANGES[lang])
        expr = F.when(
            script_chars.cast("double")
            > F.lit(script_threshold(lang)) * nonws,
            F.lit(lang)).otherwise(expr)
    return expr


def with_lang_guess(df: DataFrame, text_col: str,
                    out_col: str = "lang_guess") -> DataFrame:
    """``lang_id`` as a column-landed two-projection pipeline: the
    token array, non-whitespace length, and per-script counts land in
    real columns (evaluated ONCE per document — the multiply-
    referenced token alias is non-cheap, so CollapseProject keeps the
    boundary), the per-language hit counts land next, and the verdict
    is a CASE over integer columns. Identical verdicts to ``lang_id``
    (script order, strict-> argmax, alphabetical ties, 'und' floor) —
    see test_textlib's equivalence fuzz — at one normalize+split
    instead of ~L^2.

    Shape note (measured, 16k-doc bench slice): an explode +
    broadcast-stopword-table rewrite (the lmscore/qualityclf shape)
    was tried and lost to this landed form — 6.34s vs 4.48s warm —
    because the regex counting fix (``_char_count``) removed the real
    bottleneck; the landed form is also shuffle-free, which is the
    right default inside curation funnels that already shuffle
    elsewhere."""
    langs = sorted(LANG_STOPWORDS)
    c = F.coalesce(F.col(text_col), F.lit(""))
    internal = (["_lg_tok", "_lg_nonws"]
                + [f"_lg_sc_{lang}" for lang in SCRIPT_ORDER]
                + [f"_lg_h_{lang}" for lang in langs])
    landed = df.select(
        "*", tokens(c).alias("_lg_tok"),
        _nonws_length(c).alias("_lg_nonws"),
        *[_char_count(c, SCRIPT_RANGES[lang])
          .alias(f"_lg_sc_{lang}") for lang in SCRIPT_ORDER])

    def _hit(lang):
        sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        return F.size(F.filter(F.col("_lg_tok"),
                               lambda t: F.array_contains(sw, t)))\
            .alias(f"_lg_h_{lang}")

    hits = landed.select("*", *[_hit(lang) for lang in langs])
    mx = F.greatest(*[F.col(f"_lg_h_{lang}") for lang in langs])
    # Stopword argmax: first lang (sorted order) holding the max —
    # the strict `>` scan of lang_id keeps the earliest winner.
    guess = F.lit("und")
    for lang in reversed(langs):
        guess = F.when(F.col(f"_lg_h_{lang}") == mx,
                       F.lit(lang)).otherwise(guess)
    guess = F.when(mx == 0, F.lit("und")).otherwise(guess)
    # Script vote overrides, checked in SCRIPT_ORDER.
    for lang in reversed(SCRIPT_ORDER):
        guess = F.when(
            F.col(f"_lg_sc_{lang}").cast("double")
            > F.lit(script_threshold(lang)) * F.col("_lg_nonws"),
            F.lit(lang)).otherwise(guess)
    return hits.withColumn(out_col, guess).drop(*internal)


def fingerprint(c: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (exact-dup key)."""
    return F.md5(normalize_text(c).cast("binary"))


def rolling_fingerprint(c: Column, window: int = 16) -> Column:
    """Winnowing-style robust fingerprint: min xxhash64 over the
    document's character k-grams (stable under local edits elsewhere)."""
    from .dedup import shingles
    return F.array_min(F.transform(shingles(c, window), lambda s: F.xxhash64(s)))


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (public thresholds: Rae et al. 2021,
# "Scaling Language Models: ... Gopher", Table A1): repetitive pages
# (boilerplate line spam, keyword-stuffed bigram loops) are the classic
# web-corpus pollution that length/stopword signals miss.
# ---------------------------------------------------------------------------

GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.18
# The n-gram mass gate only means something past a word-count floor (a
# two-word page has top-bigram mass 1.0 by construction); Gopher's own
# pipeline drops short docs with a separate length filter before the
# repetition gates apply.
GOPHER_MIN_TOKENS_FOR_BIGRAM_GATE = 20


def line_array(c: Column) -> Column:
    """Trimmed non-empty lines (expression).

    The trim MUST be a single-arg lambda: F.transform inspects the
    callable's parameter count and F.trim's optional second parameter
    (the trim-character set) would receive the element INDEX — 'line 0'
    at index 0 silently loses its '0' (latent until the char-fraction
    signals; same fix in paragraph_array / c4_kept_lines)."""
    return F.filter(F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
                    lambda x: x != "")


def dup_line_fraction(c: Column) -> Column:
    """Fraction of lines that repeat an earlier line — pure expression,
    one array pass per document."""
    lines = line_array(c)
    n = F.size(lines)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(lines)).cast("double") / n)


def bigram_array(c: Column) -> Column:
    """Adjacent word bigrams of the normalized text (expression).

    PERF WARNING (measured): Catalyst inlines the captured ``tok``
    expression into the per-element lambda, so each bigram re-runs the
    whole normalize+split — O(tokens*len) per document (178s for 2055
    x 8.6 KB docs). Fine for short rows and array-valued use; hot
    paths use ``_bigram_rows`` (position explode over ints with the
    token array landed in a real column) — same values, linear cost."""
    tok = tokens(c)
    n = F.size(tok)
    idx = F.sequence(F.lit(1), n - 1)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda j: F.concat(
            F.element_at(tok, j), F.lit(" "), F.element_at(tok, j + 1))))


def _bigram_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id_col, bigram): one row per adjacent word pair. The token
    array lands in a real column (`_tok`) referenced several times,
    which stops CollapseProject from inlining the normalize+split back
    into per-element work (the ``bigram_array`` pathology); per-bigram
    work above the Generate is two O(1) array accesses. Same row set
    as exploding ``bigram_array``."""
    idx = F.when(F.size("_tok") >= 2,
                 F.sequence(F.lit(1), F.size("_tok") - 1))\
        .otherwise(F.array().cast("array<int>"))
    return (df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tok"))
            .select(F.col(id_col), F.col("_tok"),
                    F.explode(idx).alias("_i"))
            .select(F.col(id_col),
                    F.concat(F.element_at("_tok", F.col("_i")),
                             F.lit(" "),
                             F.element_at("_tok", F.col("_i") + 1))
                    .alias("bigram")))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals:

      * dup_line_frac — fraction of repeated lines (expression-only).
      * top_bigram / top_bigram_frac — the most frequent word bigram
        and the fraction of normalized characters it covers
        (count x len(bigram) / len(norm_text)).

    Scale shape: the bigram mode is explode -> two-level hash
    aggregation (partial map-side combine on (id, bigram), then
    max(struct(count, bigram)) per id — deterministic tie-break on the
    larger bigram string), never a per-document O(n^2) array loop. One
    shuffle on (id, bigram), one on id."""
    c = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.length(normalize_text(c)).alias("_nchars"),
        token_count(c).alias("n_tokens"),
        F.round(dup_line_fraction(c), 6).alias("dup_line_frac"))
    counts = (_bigram_rows(df, text_col, id_col)
              .groupBy(id_col, "bigram").agg(F.count("*").alias("cnt")))
    top = (counts.groupBy(id_col)
           .agg(F.max(F.struct(F.col("cnt"), F.col("bigram"))).alias("t"))
           .select(F.col(id_col), F.col("t.bigram").alias("top_bigram"),
                   F.col("t.cnt").alias("_cnt")))
    out = (base.join(top, on=id_col, how="left")
           .select(
               F.col(id_col), "n_tokens", "dup_line_frac",
               F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
               F.when(
                   F.col("_cnt").isNull() | (F.col("_nchars") == 0),
                   F.lit(0.0))
               .otherwise(F.round(
                   F.col("_cnt") * F.length("top_bigram")
                   / F.col("_nchars"), 6)).alias("top_bigram_frac")))
    return out.withColumn(
        "keep",
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & ((F.col("n_tokens") < GOPHER_MIN_TOKENS_FOR_BIGRAM_GATE)
           | (F.col("top_bigram_frac") <= GOPHER_MAX_TOP_BIGRAM_FRAC)))


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Corpus filtered to documents passing the Gopher repetition
    thresholds (left-semi join against the keep set — ids only ride
    the shuffle)."""
    keep = repetition_stats(df, text_col, id_col).filter("keep")\
        .select(F.col(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# The FULL Gopher repetition table (Rae et al. 2021, Table A1): the
# two signals above plus duplicate paragraphs, the character-mass
# variants of both, top {2,3,4}-gram character mass, and duplicate
# {5..10}-gram character coverage — 12 gates total. Thresholds are the
# published Table A1 values verbatim.
# ---------------------------------------------------------------------------

GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20
# Table A1 gives the top-n-gram gate per n; the legacy 2-signal
# repetition_stats keeps its original 0.18 bigram constant (that one
# predates the full table and its oracle pins it), the full suite uses
# the published per-n values.
GOPHER_MAX_TOP_NGRAM_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_MAX_DUP_NGRAM_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                             9: 0.11, 10: 0.10}
_TOP_NS = sorted(GOPHER_MAX_TOP_NGRAM_FRAC)
_DUP_NS = sorted(GOPHER_MAX_DUP_NGRAM_FRAC)


def paragraph_array(c: Column) -> Column:
    """Trimmed non-empty paragraphs: blank-line-separated blocks
    (expression). CRLF-normalized input assumed (clean_text upstream
    folds it); a lone newline does NOT split a paragraph. Single-arg
    trim lambda: see line_array."""
    return F.filter(F.transform(F.split(c, r"\n[ \t]*\n+"),
                                lambda x: F.trim(x)),
                    lambda x: x != "")


def _dup_frac(arr: Column) -> Column:
    """Fraction of elements that repeat an earlier element."""
    n = F.size(arr)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(arr)).cast("double") / n)


def _dup_char_frac(sorted_arr: Column) -> Column:
    """Fraction of element CHARACTERS sitting in occurrences beyond
    the first (Gopher's 'duplicate line/paragraph character fraction';
    denominator = total element characters, so an all-duplicate doc
    approaches 1.0). Takes a PRE-SORTED array column (sort groups
    equal elements adjacently — any total order works, only adjacency
    of equals matters, so Spark's and DuckDB's string orders may
    disagree without changing the value). Pass a real column
    reference, not an expression: a captured expression would be
    inlined into the per-element lambda (the bigram_array pathology)
    and re-sort per element."""
    marks = F.transform(
        sorted_arr,
        lambda x, i: F.when(x == F.get(sorted_arr, i - 1), F.length(x))
        .otherwise(F.lit(0)))
    dup = F.aggregate(marks, F.lit(0), lambda a, x: a + x)
    total = F.aggregate(F.transform(sorted_arr, F.length), F.lit(0),
                        lambda a, x: a + x)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        dup.cast("double") / total)


def _ngram_stack(tok_df: DataFrame, id_col: str, ns) -> DataFrame:
    """(id, n, pos, gram): one row per (document, n, token position)
    for every n in ``ns`` — ONE positions explode feeding every n
    (the token array lands in `_tok`, a real column, so per-row work
    above the Generate is O(n) slice+concat, not a re-tokenize; see
    _bigram_rows). pos is 1-based."""
    min_n = min(ns)
    base = tok_df.select(
        F.col(id_col), F.col("_tok"), F.size("_tok").alias("_ntok"),
        F.explode(
            F.when(F.size("_tok") >= min_n,
                   F.sequence(F.lit(1), F.size("_tok")))
            .otherwise(F.array().cast("array<int>"))).alias("pos"))
    grams = F.array(*[
        F.struct(
            F.lit(n).alias("n"),
            F.when(F.col("pos") + (n - 1) <= F.col("_ntok"),
                   F.concat_ws(" ", F.slice("_tok", F.col("pos"), n)))
            .alias("gram"))
        for n in ns])
    return (base.select(F.col(id_col), "pos", F.explode(grams).alias("g"))
            .select(F.col(id_col), "pos", F.col("g.n").alias("n"),
                    F.col("g.gram").alias("gram"))
            .filter(F.col("gram").isNotNull()))


def repetition_stats_full(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document FULL Gopher repetition table (12 signals + keep):

      * dup_line_frac / dup_para_frac — fraction of lines/paragraphs
        repeating an earlier one (pure expressions).
      * dup_line_char_frac / dup_para_char_frac — fraction of
        line/paragraph characters in occurrences beyond the first
        (sorted-array adjacency scan, pure expressions).
      * top_{2,3,4}gram_frac — character mass of the most frequent
        word n-gram: count × len(gram) / len(normalized text) (same
        convention the legacy bigram signal pins).
      * dup_{5..10}gram_char_frac — fraction of TOKEN characters
        covered by at least one n-gram that occurs more than once.
        Gopher's prose ('characters contained within all duplicate
        n-grams, not counting characters more than once') is realized
        declaratively as the UNION of covered token positions —
        order-free, so both Spark and the DuckDB oracle can replay it
        set-wise. Denominator = total token characters (spaces
        excluded from both sides, so full coverage = 1.0).

    Scale shape: one positions explode feeds all nine n values; the
    top-n side is two hash aggregations (map-side partial on
    (id, n, gram)); the dup-n side is hash-agg → position-range
    explode → distinct → an id-join against the per-doc token-length
    array → pivot with pinned n values (no extra distinct-scan job).
    Shuffles are on (id, n, gram) / (id, n, pos) ids+smalls only —
    the document text never rides a shuffle."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    tok_df = df.select(F.col(id_col), tokens(c).alias("_tok"))

    # Scalar (array-expression) signals: land arrays in real columns
    # first so sorts/aggregates are not inlined per element.
    arrs = df.select(
        F.col(id_col),
        F.length(normalize_text(c)).alias("_nchars"),
        token_count(c).alias("n_tokens"),
        F.array_sort(line_array(c)).alias("_lsort"),
        F.array_sort(paragraph_array(c)).alias("_psort"))
    base = arrs.select(
        F.col(id_col), "_nchars", "n_tokens",
        F.round(_dup_frac(F.col("_lsort")), 6).alias("dup_line_frac"),
        F.round(_dup_char_frac(F.col("_lsort")), 6)
        .alias("dup_line_char_frac"),
        F.round(_dup_frac(F.col("_psort")), 6).alias("dup_para_frac"),
        F.round(_dup_char_frac(F.col("_psort")), 6)
        .alias("dup_para_char_frac"))

    stack = _ngram_stack(tok_df, id_col, _TOP_NS + _DUP_NS)
    # Positions are only consumed by the dup-5..10 coverage branch;
    # collect_list drops nulls, so the when() sheds the dead position
    # payload for n=2,3,4 from the hottest shuffle + agg buffers.
    counts = (stack.groupBy(id_col, "n", "gram")
              .agg(F.count("*").alias("cnt"),
                   F.collect_list(
                       F.when(F.col("n") >= min(_DUP_NS), F.col("pos")))
                   .alias("_ps")))

    # Top-n-gram character mass (n = 2, 3, 4). A gram seen ONCE is not
    # repetition — without the cnt >= 2 floor any short document trips
    # the 4-gram gate on a single occurrence (at 25 tokens one 4-gram
    # is ~0.17 of the chars; Gopher's 50-word length prefilter hides
    # that regime, this operator must stand without it). Overlapping
    # occurrences make the mass a gate score, not a probability — a
    # looped trigram can exceed 1.0 by construction.
    top = (counts.filter(F.col("n").isin(_TOP_NS) & (F.col("cnt") >= 2))
           .groupBy(id_col, "n")
           .agg(F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("t"))
           .select(F.col(id_col), "n",
                   (F.col("t.cnt") * F.length("t.gram")).alias("_mass"))
           .groupBy(id_col).pivot("n", _TOP_NS).sum("_mass"))

    # Duplicate-n-gram coverage (n = 5..10): union of covered token
    # positions, then chars looked up from the per-doc length array.
    toklens = tok_df.select(
        F.col(id_col), F.transform("_tok", F.length).alias("_tl"))
    covered = (counts.filter(F.col("n").isin(_DUP_NS) & (F.col("cnt") > 1))
               .select(F.col(id_col), "n", F.explode("_ps").alias("p"))
               .select(F.col(id_col), "n",
                       F.explode(F.sequence(
                           F.col("p"), F.col("p") + F.col("n") - 1))
                       .alias("tp"))
               .distinct())
    dupmass = (covered.join(toklens, on=id_col)
               .select(F.col(id_col), "n",
                       F.element_at("_tl", F.col("tp")).alias("_l"))
               .groupBy(id_col).pivot("n", _DUP_NS).sum("_l"))
    tokchars = toklens.select(
        F.col(id_col),
        F.aggregate("_tl", F.lit(0), lambda a, x: a + x).alias("_tokchars"))

    out = (base.join(top, on=id_col, how="left")
           .join(dupmass, on=id_col, how="left")
           .join(tokchars, on=id_col, how="left"))
    for n in _TOP_NS:
        out = out.withColumn(
            f"top_{n}gram_frac",
            F.when((F.col("_nchars") == 0) | F.col(str(n)).isNull(),
                   F.lit(0.0))
            .otherwise(F.round(F.col(str(n)) / F.col("_nchars"), 6)))
    for n in _DUP_NS:
        out = out.withColumn(
            f"dup_{n}gram_char_frac",
            F.when((F.coalesce(F.col("_tokchars"), F.lit(0)) == 0)
                   | F.col(str(n)).isNull(), F.lit(0.0))
            .otherwise(F.round(F.col(str(n)) / F.col("_tokchars"), 6)))

    gate = (
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_para_frac") <= GOPHER_MAX_DUP_PARA_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("dup_para_char_frac") <= GOPHER_MAX_DUP_PARA_CHAR_FRAC))
    ngate = F.lit(True)
    for n, thr in GOPHER_MAX_TOP_NGRAM_FRAC.items():
        ngate = ngate & (F.col(f"top_{n}gram_frac") <= thr)
    for n, thr in GOPHER_MAX_DUP_NGRAM_FRAC.items():
        ngate = ngate & (F.col(f"dup_{n}gram_char_frac") <= thr)
    keep = gate & (
        (F.col("n_tokens") < GOPHER_MIN_TOKENS_FOR_BIGRAM_GATE) | ngate)

    cols = [id_col, "n_tokens", "dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac"]
    cols += [f"top_{n}gram_frac" for n in _TOP_NS]
    cols += [f"dup_{n}gram_char_frac" for n in _DUP_NS]
    return out.select(*cols, keep.alias("keep"))


def gopher_repetition_filter_full(df: DataFrame, text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Corpus filtered through ALL 12 Gopher repetition gates
    (left-semi against the keep ids)."""
    keep = repetition_stats_full(df, text_col, id_col).filter("keep")\
        .select(F.col(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Corpus-level line dedup (CCNet-style paragraph dedup, Wenzek et al.
# LREC 2020; also RefinedWeb's line-wise corrections): a line repeated
# across MANY documents is boilerplate (cookie banners, nav text,
# footers) that per-document signals can't see.
# ---------------------------------------------------------------------------

LINE_DEDUP_MAX_DOC_FREQ = 5
LINE_DEDUP_MIN_CHARS = 15


def _line_key(line_col, min_chars: int):
    """The line-identity key line_dedup and hot_line_keys share: md5 of
    the trimmed line, NULL (= never hot) under the min-chars floor."""
    t = F.trim(line_col)
    return F.when(F.length(t) >= min_chars, F.md5(t.cast("binary")))


def hot_line_keys(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_doc_freq: int = LINE_DEDUP_MAX_DOC_FREQ,
                  min_chars: int = LINE_DEDUP_MIN_CHARS) -> DataFrame:
    """One-column (_key) frame of corpus-hot line hashes — the lines
    line_dedup removes. Exposed so consumers (job --line-dedup) can
    count or inspect the hot set WITHOUT re-running the per-document
    reassembly aggregation."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(F.col(id_col),
                      F.explode(F.split(c, "\n")).alias("line"))
    keyed = lines.select(F.col(id_col),
                         _line_key(F.col("line"), min_chars).alias("_key"))
    return (keyed.filter(F.col("_key").isNotNull())
            .distinct()
            .groupBy("_key").agg(F.count("*").alias("_docs"))
            .filter(F.col("_docs") > max_doc_freq)
            .select("_key"))


def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               max_doc_freq: int = LINE_DEDUP_MAX_DOC_FREQ,
               min_chars: int = LINE_DEDUP_MIN_CHARS,
               return_report: bool = False):
    """Remove lines that appear in more than ``max_doc_freq`` distinct
    documents from EVERY document (corpus-level boilerplate). Matching
    is on the md5 of the trimmed line; lines shorter than ``min_chars``
    trimmed characters are kept unconditionally (short lines collide
    by chance, and dropping them would chew up list markup).

    Returns (id, text, n_lines_removed) with per-document line order
    preserved; with return_report=True also a one-row frame
    (n_hot_lines, lines_removed, docs_touched).

    Scale shape: explode -> distinct (id, line-hash) -> count per hash
    (both hash aggregations with map-side partial combine) -> the hot
    set joins back by hash (ids+hash only ride the shuffles; at real
    corpus scale the hot set is small enough to broadcast) -> ordered
    reassembly per document via array_sort over (pos, line) structs.
    No Python anywhere."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(c, "\n")).alias("pos", "line"))
    lines = lines.withColumn("_key", _line_key(F.col("line"), min_chars))
    hot = hot_line_keys(df, text_col=text_col, id_col=id_col,
                        max_doc_freq=max_doc_freq, min_chars=min_chars)
    marked = lines.join(hot.withColumn("_hot", F.lit(True)),
                        on="_key", how="left")
    out = (marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(~F.coalesce(F.col("_hot"), F.lit(False)),
                           F.struct(F.col("pos"), F.col("line"))))),
                lambda s: s["line"]),
            "\n").alias(text_col),
        F.sum(F.coalesce(F.col("_hot"), F.lit(False)).cast("int"))
        .alias("n_lines_removed")))
    if return_report:
        report = out.agg(
            F.sum("n_lines_removed").alias("lines_removed"),
            F.sum(F.when(F.col("n_lines_removed") > 0, 1).otherwise(0))
            .alias("docs_touched")).crossJoin(
                hot.agg(F.count("*").alias("n_hot_lines")))
        return out, report
    return out


def dedup_lines_in_doc(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       min_chars: int = LINE_DEDUP_MIN_CHARS) -> DataFrame:
    """Remove every repeat of an earlier line WITHIN a document (keep
    the first occurrence) — the repair mode for what the Gopher
    dup-line gate detects (trafilatura's per-document dedup option is
    the public precedent; `line_dedup` above is the CROSS-document
    variant). Identity is the raw line string; lines whose trimmed
    length is under ``min_chars`` are kept unconditionally (blank
    lines are structure, short lines collide by chance — same floor as
    line_dedup).

    Scale shape: posexplode -> first-occurrence mark (row_number over
    (id, line) by position — O(L log L) per doc; an in-array
    array_position filter would be O(L^2) exactly on the line-spam
    documents this operator targets) -> ordered reassembly, the same
    collect/sort shape as line_dedup. Exempt lines skip the window
    (they keep every occurrence). Returns (id, text,
    n_lines_removed)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(c, "\n")).alias("pos", "line"))
    exempt = F.length(F.trim(F.col("line"))) < min_chars
    w = Window.partitionBy(id_col, "line").orderBy("pos")
    marked = lines.withColumn(
        "_drop",
        ~exempt & (F.row_number().over(w) > 1))
    return (marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(~F.col("_drop"),
                           F.struct(F.col("pos"), F.col("line"))))),
                lambda s: s["line"]),
            "\n").alias(text_col),
        F.sum(F.col("_drop").cast("int")).alias("n_lines_removed")))


# ---------------------------------------------------------------------------
# C4 heuristic cleanup (public rules: Raffel et al. 2020, "Exploring
# the Limits of Transfer Learning with a Unified Text-to-Text
# Transformer", JMLR — the C4 corpus construction, §2.2): line-level
# retention by terminal punctuation / word count / "javascript", then
# page-level gates (sentence floor, "lorem ipsum", curly brace, bad
# words). Pure expressions end to end.
# ---------------------------------------------------------------------------

C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5
# Terminal punctuation per the paper: period, exclamation mark,
# question mark, end quotation mark.
_C4_TERMINAL_RE = '[.!?"]$'
# The paper gates on the public LDNOOBW word list; it is external and
# per-language, so callers supply it — the default gate is vacuous by
# design rather than shipping a bundled slur list.
C4_BAD_WORDS: tuple[str, ...] = ()


def c4_kept_lines(c: Column) -> Column:
    """Lines surviving C4's line-level rules: ends in terminal
    punctuation, has >= 3 whitespace words, does not mention
    "javascript" (case-insensitive) — as an array expression."""
    return F.filter(
        F.transform(F.split(F.coalesce(c, F.lit("")), "\n"),
                    lambda x: F.trim(x)),  # single-arg: see line_array
        lambda line: line.rlike(_C4_TERMINAL_RE)
        & (F.size(F.split(line, r"\s+")) >= C4_MIN_WORDS_PER_LINE)
        & ~F.lower(line).contains("javascript"))


def c4_page_gate(c: Column, kept_text: Column,
                 bad_words: tuple[str, ...] = C4_BAD_WORDS
                 ) -> dict[str, Column]:
    """C4's page-level rules for page text ``c`` whose retained lines
    (c4_kept_lines, joined by newlines) are ``kept_text``: the signals
    n_sentences (terminal marks [.!?] in the retained text), has_lorem,
    has_brace and has_bad_word (lowercase alpha runs of the page
    against ``bad_words``), and ``keep``, the page decision over them.
    Pass ``kept_text`` as a landed column when it is selected too, so
    the line rules run once per page."""
    c = F.coalesce(c, F.lit(""))
    if bad_words:
        words = F.regexp_extract_all(F.lower(c), F.lit("[a-z]+"), 0)
        has_bad = F.arrays_overlap(
            words, F.array(*[F.lit(w.lower()) for w in bad_words]))
    else:
        has_bad = F.lit(False)
    gate = {"n_sentences": _char_count(kept_text, ".!?"),
            "has_lorem": F.lower(c).contains("lorem ipsum"),
            "has_brace": c.contains("{"),
            "has_bad_word": has_bad}
    gate["keep"] = ((gate["n_sentences"] >= C4_MIN_SENTENCES)
                    & ~gate["has_lorem"] & ~gate["has_brace"]
                    & ~gate["has_bad_word"])
    return gate


def c4_stats(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id",
             bad_words: tuple[str, ...] = C4_BAD_WORDS) -> DataFrame:
    """Per-document C4 signals + the keep decision (c4_page_gate) +
    the retained text. One codegen projection, no shuffle."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    kept = c4_kept_lines(c)
    kept_text = F.array_join(kept, "\n")
    gate = c4_page_gate(c, kept_text, bad_words)
    return df.select(
        F.col(id_col),
        F.size(F.split(c, "\n")).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        *[gate[k].alias(k) for k in ("n_sentences", "has_lorem",
                                     "has_brace", "has_bad_word")],
        kept_text.alias("kept_text"), gate["keep"].alias("keep"))


def c4_filter(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id",
              bad_words: tuple[str, ...] = C4_BAD_WORDS) -> DataFrame:
    """The corpus C4-cleaned: pages passing the page gates, with
    ``text_col`` replaced by the retained lines (metadata columns
    preserved, so curation stages chain over it)."""
    stats = c4_stats(df, text_col, id_col, bad_words)
    kept = stats.filter("keep").select(
        F.col(id_col), F.col("kept_text"))
    return (df.drop(text_col)
            .join(kept, on=id_col, how="inner")
            .withColumnRenamed("kept_text", text_col))


def document_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document stats frame."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(mean_word_length(c), 6).alias("mean_word_len"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_guess"),
        fingerprint(c).alias("fingerprint"),
    )


def _term_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term): one row per token occurrence. Same landed-array
    shape as _bigram_rows — the token array sits in a real column so
    the normalize+split chain runs once per document, never once per
    element (the bigram_array Catalyst-inlining pathology). Empty/
    whitespace-only documents contribute no rows (split('') yields
    [''], filtered here — the token_count(c)=0 convention)."""
    return (df.select(F.col(id_col),
                      tokens(F.col(text_col)).alias("_tok"))
            .select(F.col(id_col), F.explode("_tok").alias("term"))
            .filter(F.col("term") != ""))


def doc_frequency(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", min_df: int = 1) -> DataFrame:
    """Corpus document-frequency table: (term, df, idf) over the
    whitespace tokens of the normalized text, idf smoothed the
    standard way (scikit-learn TfidfTransformer, public):
    ``idf = ln((N + 1) / (df + 1)) + 1`` with N = corpus document
    count — never negative, never divides by zero, and a term in
    every document still scores > 0.

    Scale shape: one explode → one (term) hash aggregation (map-side
    partial combine collapses each partition's occurrences first, so
    the shuffle carries one row per distinct term per partition, not
    one per token); N rides a 1-row broadcast crossJoin, the
    host_rank dangling-mass pattern — no driver action, no collect."""
    per_doc = (_term_rows(df, text_col, id_col)
               .groupBy("term", id_col).agg(F.lit(1).alias("_one")))
    dfreq = per_doc.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count("*").alias("_n"))
    return (dfreq.filter(F.col("df") >= min_df)
            .crossJoin(F.broadcast(n))
            .select("term", "df",
                    (F.log((F.col("_n") + F.lit(1)).cast("double")
                           / (F.col("df") + F.lit(1)))
                     + F.lit(1.0)).alias("idf")))


def tfidf_topk(df: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id", min_df: int = 1,
               materialize_tf: bool = False) -> DataFrame:
    """Per-document top-k keywords by TF-IDF: (id, term, tf, tfidf,
    rank), tf = raw in-document term count (Salton & Buckley 1988
    weighting family; the raw-count variant keeps the score exactly
    replayable), ties broken by term so the selection is
    deterministic.

    Scale shape: term counting is one (id, term) hash aggregation;
    the idf join is keyed on term against the vocabulary-sized DF
    table (one row per term — a mega-term is fan-in to one row, not
    a hot join fan-out); top-k is a row_number window partitioned by
    document that Spark executes with WindowGroupLimit pushdown (the
    per-partition top-k runs BEFORE the window exchange, so the
    shuffle carries ≤k rows per document, not the whole vocabulary).
    Like Spark ML's CountVectorizer→IDF fit/transform pair, the plan
    tokenizes the corpus twice (the df side aggregates different keys
    than the tf side, so Catalyst can't reuse the exchange);
    ``materialize_tf=True`` localCheckpoints the (id, term, tf) frame
    instead — one scan, at the price of buffering a corpus-sized
    intermediate (the dedup_resolve trade)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    tf = (_term_rows(df, text_col, id_col)
          .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    if materialize_tf:
        tf = tf.localCheckpoint()
    n = df.agg(F.count("*").alias("_n"))
    dfreq = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .filter(F.col("df") >= min_df)
             .crossJoin(F.broadcast(n))
             .select("term", "df",
                     (F.log((F.col("_n") + F.lit(1)).cast("double")
                            / (F.col("df") + F.lit(1)))
                      + F.lit(1.0)).alias("idf")))
    scored = (tf.join(dfreq, on="term", how="inner")
              .select(F.col(id_col), "term", "tf",
                      (F.col("tf").cast("double") * F.col("idf"))
                      .alias("tfidf")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
