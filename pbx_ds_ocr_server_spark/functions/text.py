"""Text-analysis column expressions for training-data pipelines.

Every function here is a pure ``Column`` expression built from
``pyspark.sql.functions`` — JVM-side, vectorized, codegen-eligible; no Python
executes per row. Each has an exact ANSI-SQL mirror used by the DuckDB oracle
in ``__spark_entry__.py`` (same md5, same normalization, same tie-breaks), so
results are bit-comparable across engines.

Covers the "text analysis" tier: language ID (stopword-vote heuristic),
quality scoring (length/stopword/alpha/punct ratios), token counting,
and document fingerprinting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

# Frozen stopword marker sets (lowercase). Votes decide lang_id; ties break
# by the priority order of LANGS. Keep these lists in sync with the SQL
# mirror in __spark_entry__.py.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "zu", "mit"),
    "es": ("el", "los", "las", "es", "una", "y", "que", "de", "no"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pas", "pour"),
    "zh": ("的", "是", "不", "了", "在", "我", "有", "和"),
}
LANGS = ("en", "de", "es", "fr", "zh")  # tie-break priority order


def norm_text(col: Column | str) -> Column:
    """Whitespace-normalized text: trim + collapse runs to single spaces."""
    return F.regexp_replace(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+", " ")


def words(col: Column | str) -> Column:
    return F.split(norm_text(col), " ")


def token_count(col: Column | str) -> Column:
    n = norm_text(col)
    return F.when(n == "", F.lit(0)).otherwise(F.size(F.split(n, " "))).cast("bigint")


def _stop_hits(arr: Column, lang: str) -> Column:
    """Count of entries in a pre-tokenized word array (lowercased) that are
    in the lang's stopword set — shared by _vote and gopher_flags."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(
        F.filter(arr, lambda w: F.array_contains(stop, F.lower(w)))
    )


def _vote(col: Column | str, lang: str) -> Column:
    """Count of words (lowercased) that are in the lang's stopword set."""
    return _stop_hits(words(col), lang)


def lang_votes(col: Column | str) -> dict[str, Column]:
    return {lang: _vote(col, lang) for lang in LANGS}


def lang_id(col: Column | str) -> Column:
    """argmax of stopword votes; ties break by LANGS order; zero votes → 'und'
    (undetermined, BCP-47 style)."""
    return _lang_argmax(lang_votes(col))


def _lang_argmax(v: dict[str, Column]) -> Column:
    """The tie-break CASE chain over the five vote columns ``v`` (keyed by
    LANGS): the first language in LANGS order whose votes are positive
    and >= every later language's wins; none → 'und'. Mirrored exactly in
    the DuckDB oracle SQL."""
    chain = F.when(
        (v["en"] > 0)
        & (v["en"] >= F.greatest(v["de"], v["es"], v["fr"], v["zh"])),
        F.lit("en"),
    )
    chain = chain.when(
        (v["de"] > 0) & (v["de"] >= F.greatest(v["es"], v["fr"], v["zh"])),
        F.lit("de"),
    )
    chain = chain.when(
        (v["es"] > 0) & (v["es"] >= F.greatest(v["fr"], v["zh"])), F.lit("es")
    )
    chain = chain.when((v["fr"] > 0) & (v["fr"] >= v["zh"]), F.lit("fr"))
    chain = chain.when(v["zh"] > 0, F.lit("zh"))
    return chain.otherwise(F.lit("und"))


def alpha_ratio(col: Column | str) -> Column:
    n = norm_text(col)
    return F.when(F.length(n) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(n, "[^a-zA-Z]", "")) / F.length(n)
    )


def stopword_ratio(col: Column | str) -> Column:
    t = token_count(col)
    return F.when(t == 0, F.lit(0.0)).otherwise(_vote(col, "en") / t)


def quality_score(col: Column | str) -> Column:
    """Frozen formula: 0.4·min(tokens/50,1) + 0.3·min(5·stopword_ratio,1)
    + 0.3·alpha_ratio, rounded to 6dp. Mirrors Gopher/C4-style length +
    stopword + symbol heuristics in one deterministic scalar."""
    t = token_count(col)
    len_term = F.least(t / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return F.round(
        len_term * 0.4 + stop_term * 0.3 + alpha_ratio(col) * 0.3, 6
    )


def fingerprint(col: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of lowercased normalized text."""
    return F.md5(F.lower(norm_text(col)))


# CJK script ranges (Han, Hiragana+Katakana, Hangul syllables) — literal
# characters so the SAME class string works in Java regex (Spark) and RE2
# (DuckDB oracle). Keep in sync with the SQL mirror in __spark_entry__.py.
CJK_CLASS = "[一-鿿぀-ヿ가-힯]"


def token_count_cjk(col: Column | str) -> Column:
    """Script-aware token count for mixed CJK/Latin text.

    Whitespace tokenization undercounts CJK catastrophically (no spaces —
    a 500-character Chinese document is ONE whitespace token). Rule: every
    CJK character (Han / kana / Hangul) is one token; the remaining text
    tokenizes on whitespace as usual. The standard web-corpus heuristic
    (CCNet/mC4 use the same char-as-token convention for CJK budgeting);
    deterministic, pure-column, and exactly mirrorable in ANSI SQL."""
    c = F.col(col) if isinstance(col, str) else col
    n_cjk = F.length(c) - F.length(F.regexp_replace(c, CJK_CLASS, ""))
    rest = F.regexp_replace(c, CJK_CLASS, " ")
    return (n_cjk + token_count(rest)).cast("bigint")


def lang_id_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, lang_pred) — same result as the ``lang_id`` column expression
    (same votes, same tie-break chain).

    One shuffle-free projection since round 9: the lowercased word array
    is bound as a COLUMN once, then the 5 stopword votes are in-row array
    filters — interleaved A/B measured 0.93 → 0.21 s at sf0.1 vs the
    former explode + conditional-sums aggregate (whose win over the
    original column form predated the ws-binding rule: the old column
    expression re-ran words() per vote). At scale this removes the
    |corpus words|-row aggregation exchange entirely. A NULL-text doc
    yields size(NULL) votes (< 0), every when() falls through → 'und',
    exactly like the explode_outer aggregate."""
    base = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col).alias("id"), words(text_col).alias("ws")).select(
        "id", F.transform("ws", lambda x: F.lower(x)).alias("lws")
    )

    def vote(lang: str) -> Column:
        stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])

        def pred(w):
            # closure, not `lambda w, s=stop`: an arity-2 lambda would
            # receive the ELEMENT INDEX as its second argument
            return F.array_contains(stop, w)

        return F.size(F.filter(F.col("lws"), pred))

    return base.select(
        F.col("id").alias(id_col),
        _lang_argmax({lang: vote(lang) for lang in LANGS}).alias("lang_pred"),
    )


def _sorted_bigrams(ws: Column) -> Column:
    """Sorted bigram array of a word-array COLUMN (docs with <2 words fall
    back to the word array itself, mirroring the explode form's
    ``otherwise`` branch). Callers must pass a bound attribute, not an
    inlined words() tree (round-9 ws-binding rule)."""
    return F.array_sort(
        F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 2),
                lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 2)),
            ),
        ).otherwise(ws)
    )


# Count of the most frequent element of the (pre-sorted, pre-bound) `sbg`
# array = longest run of equal adjacent elements. O(n log n) per row in
# the sort, one fold pass here — replaces the round-2..8 explode + two
# hash aggregates + join, whose per-(id,bigram) partial rows were a
# |corpus words|-sized shuffle (round-9 measurement: 1.66 s → 0.29 s for
# the top-bigram sub-pipeline at sf0.1, values bit-identical).
#
# The fold runs over the ARRAY ITSELF, carrying the previous element in
# the accumulator, so `sbg` is referenced exactly ONCE. That is load-
# bearing: filter pushdown substitutes column aliases into predicates
# with no cheapness check, so a form indexing sbg[i]/sbg[i-1] per
# iteration would inline the whole array_sort(transform(...)) tree at
# every reference — re-sorting per element, O(n² log n) per doc
# (measured +3.3 s on corpus_curation, whose gopher gate filters on the
# conjunction containing this expression).
# Elements are never NULL (concat_ws output), so `x = acc.prev` is false
# on the first element (NULL prev) and exact afterwards; a single-element
# array yields 1 like the explode form; a NULL array propagates NULL.
_MAX_RUN_SQL = (
    "aggregate(sbg,"
    " struct(cast(null as string) as prev, 0 as run, 0 as best),"
    " (acc, x) -> struct(x as prev,"
    "   IF(x = acc.prev, acc.run + 1, 1) as run,"
    "   greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1)) as best),"
    " acc -> acc.best)"
)


def repetition_metrics(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition signals per document:
    ``dup_word_frac`` = 1 − |distinct words| / |words|, and
    ``top_bigram_frac`` = words covered by the most frequent bigram / |words|.
    High values flag boilerplate/spam for training-data filtering.

    One shuffle-free projection since round 9: the most-frequent-bigram
    count is the longest equal-run of the SORTED in-row bigram array
    (identical values to the former explode + count + max join — equal
    elements are adjacent under any total order). A NULL-text doc gets
    honest NULL metrics via the n_words guard, exactly as before."""
    base = ensure_min_partitions(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), words(text_col).alias("ws")
    ).withColumn("sbg", _sorted_bigrams(F.col("ws")))
    n = F.size("ws")
    valid = n > 0
    return base.select(
        F.col("id").alias(id_col),
        F.when(
            valid, F.round(1 - F.size(F.array_distinct("ws")) / n, 6)
        ).alias("dup_word_frac"),
        F.when(
            valid, F.round(2 * F.expr(_MAX_RUN_SQL) / n, 6)
        ).alias("top_bigram_frac"),
    )


def simhash_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, simhash) — results identical to ``simhash16``.

    One shuffle-free projection since round 9: the per-word md5 digests
    are bound as an ARRAY COLUMN once, then the 16 bit votes are in-row
    array filters over that attribute — interleaved A/B measured
    1.26 → 0.32 s at sf0.1 vs the former explode + 16-conditional-sums
    aggregate. (The round-3 "table beats column 4.5×" measurement was
    against the UNBOUND column form, whose 16 filters each re-inlined
    transform(words(text), md5) — the ws/hashes-binding rule flips the
    verdict.) A NULL-text doc yields NULL hashes → size(NULL) counts,
    every bit predicate false → simhash 0, same as the explode_outer
    aggregate's row."""
    base = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col).alias("id"), words(text_col).alias("ws")).select(
        "id", F.size("ws").alias("n"),
        F.transform("ws", lambda x: F.md5(x)).alias("hs"),
    )

    def bit_pred(b: int):
        def pred(h):
            return F.substring(h, b + 1, 1).rlike("[89a-f]")

        return pred

    n = F.col("n")
    total = F.lit(0).cast("bigint")
    for b in range(16):
        ones = F.size(F.filter(F.col("hs"), bit_pred(b)))
        bit = F.when((n > 0) & (ones * 2 > n), F.lit(1)).otherwise(F.lit(0))
        total = total + bit.cast("bigint") * F.lit(1 << b).cast("bigint")
    return base.select(F.col("id").alias(id_col), total.alias("simhash"))


def simhash16(col: Column | str) -> Column:
    """16-bit SimHash over the word multiset.

    Bit b is set when strictly more than half of the words have the high bit
    of hex digit b of md5(word) set (digit in 8..f). Built entirely from
    array expressions — and cheaply mirrored in SQL.
    """
    # hash each word ONCE; the 16 bit-filters then read substrings of the
    # precomputed digests (16x fewer md5 evaluations)
    hashes = F.transform(words(col), lambda x: F.md5(x))
    n = F.size(hashes)
    total = F.lit(0).cast("bigint")

    def bit_pred(b: int):
        # NB: a `lambda x, b=b` would have arity 2 and PySpark would pass the
        # ELEMENT INDEX as the second arg, clobbering b — use a closure.
        return lambda h: F.substring(h, b + 1, 1).rlike("[89a-f]")

    for b in range(16):
        ones = F.size(F.filter(hashes, bit_pred(b)))
        bit = F.when((n > 0) & (ones * 2 > n), F.lit(1)).otherwise(F.lit(0))
        total = total + bit.cast("bigint") * F.lit(1 << b).cast("bigint")
    return total


# ------------------------------------------------- unicode normalization
def nfc_normalize():
    """Arrow-batched NFC normalizer (canonical composition) — the standard
    pre-tokenization pass: decomposed sequences ('e' + COMBINING ACUTE) and
    their composed forms ('é') must fingerprint/dedup identically. Spark has
    no built-in unicode normalizer, so this is one of the few places a
    (vectorized, Arrow) Python UDF is the right tool; DuckDB's
    ``nfc_normalize`` is the exact oracle mirror (same UCD tables)."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


# ----------------------------------------------------------- PII scrubbing
# Patterns restricted to syntax that Java regex (Spark) and RE2 (DuckDB)
# interpret identically — keep in sync with the SQL mirror.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(col: Column | str) -> Column:
    """Replace emails and IPv4 addresses with typed placeholder tokens —
    the standard pre-training scrub pass. Pure JVM regexp_replace, one scan
    per pattern; order fixed (emails first so the host part of an address
    is never half-replaced as an IP)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(c, IPV4_RE, "<IP>")


def gopher_flags(df, id_col: str = "doc_id", text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_word_frac: float = 0.8,
                 min_stopword_hits: int = 2,
                 stopword_lang: str = "en",
                 max_dup_word_frac: float = 0.6,
                 max_top_bigram_frac: float = 0.18):
    """Per-document Gopher quality-rule flags (Rae et al. 2021 appendix
    A1.1, the published web-text curation rule set), one boolean per rule
    plus the conjunction: (id, word count / mean-word-length / symbol /
    alpha-word / stopword / repetition rule booleans, keep).

    ONE shuffle-free projection (round 9): every rule, including
    ``top_bigram_frac``, is an in-row column expression —
    the most-frequent-bigram count is the longest equal-run of the sorted
    in-row bigram array (O(n log n) per doc; identical values to the
    former explode + hash aggs + LEFT join, and NULL-text/NULL-id rows
    stay visible exactly as before: they fail ok_words with every flag
    non-null). The repetition pair is the word-fraction variant of the
    paper's character fractions, so its default thresholds are looser:
    ordinary English already repeats ~40-55% of its words (stopwords),
    hence max_dup_word_frac=0.6. Precondition (like every per-document
    audit here): one row per id — duplicate ids would cross-join with
    their pooled repetition stats. ``gopher_filter`` applies the
    conjunction; this audit variant shows WHY a document fails."""
    fanned = ensure_min_partitions(df.select(F.col(id_col), F.col(text_col)))
    base = fanned.select(
        F.col(id_col).alias("id"),
        # coalesce BEFORE deriving ws: a NULL text must produce an honest
        # all-rules-fail row, not a NULL-propagated vanishing one
        F.coalesce(norm_text(text_col), F.lit("")).alias("nt"),
        # the repetition tokenization (words(text): NULL stays NULL) is
        # kept separate from ws on purpose — same formula and word arrays
        # as repetition_metrics (eleventh-review fix)
        words(text_col).alias("rws"),
    ).select("id", "nt", F.split("nt", " ").alias("ws"), "rws")
    # sorted bigram array bound as a COLUMN (round 9): the top-bigram rule
    # is now the in-row longest-equal-run fold (_MAX_RUN_SQL) instead of
    # an explode + two aggregates + join — identical values (see
    # repetition_metrics), no |corpus words| shuffle, and gopher_flags
    # becomes a single shuffle-free projection
    base = base.withColumn("sbg", _sorted_bigrams(F.col("rws")))
    nonempty = F.filter(F.col("ws"), lambda x: x != "")
    n_real = F.size(nonempty)
    mean_len = F.when(
        n_real > 0,
        F.aggregate(
            nonempty, F.lit(0), lambda acc, x: acc + F.length(x)
        ).cast("double") / n_real,
    ).otherwise(F.lit(0.0))
    # count OCCURRENCES of the symbol tokens: a length delta would score
    # an ASCII '...' as 3 symbols but '…' as 1
    n_sym = F.regexp_count(F.col("nt"), F.lit(r"#|…|\.\.\."))
    alpha_words = F.size(
        F.filter(nonempty, lambda x: x.rlike("[A-Za-z]"))
    )
    stop_hits = _stop_hits(nonempty, stopword_lang)
    nw = F.size("rws")
    top_bigram_frac = F.when(
        nw > 0, F.round(2 * F.expr(_MAX_RUN_SQL) / nw, 6)
    )
    dup_frac = F.when(
        n_real > 0,
        1 - F.size(F.array_distinct(nonempty)).cast("double") / n_real,
    ).otherwise(F.lit(0.0))
    flags = base.select(
        "id",
        ((n_real >= min_words) & (n_real <= max_words)).alias("ok_words"),
        (
            (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
        ).alias("ok_mean_word_len"),
        F.when(
            n_real > 0, n_sym.cast("double") / n_real <= max_symbol_ratio
        ).otherwise(F.lit(False)).alias("ok_symbols"),
        F.when(
            n_real > 0,
            alpha_words.cast("double") / n_real >= min_alpha_word_frac,
        ).otherwise(F.lit(False)).alias("ok_alpha_words"),
        (stop_hits >= min_stopword_hits).alias("ok_stopwords"),
        (dup_frac <= max_dup_word_frac).alias("ok_dup_words"),
        (
            F.coalesce(top_bigram_frac, F.lit(0.0)) <= max_top_bigram_frac
        ).alias("ok_top_bigram"),
    )
    rule_cols = [c for c in flags.columns if c.startswith("ok_")]
    keep_expr = F.col(rule_cols[0])
    for c in rule_cols[1:]:
        keep_expr = keep_expr & F.col(c)
    return flags.withColumn("keep", keep_expr).withColumnRenamed(
        "id", id_col
    )


def gopher_filter(df, id_col: str = "doc_id", text_col: str = "text",
                  **thresholds):
    """Keep only documents passing ALL Gopher quality rules (see
    :func:`gopher_flags` for the rule set and thresholds) — the standard
    pre-training curation gate, applied as a left-semi join on the id
    (payload columns never shuffle)."""
    keep = (
        gopher_flags(df, id_col, text_col, **thresholds)
        .filter(F.col("keep"))
        .select(F.col(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# ------------------------------------------------- deterministic sampling
def _md5_frac(key_col: str):
    """md5(key) prefix as a uniform fraction in [0, 1) — the shared order
    statistic of hash_sample (threshold) and stratified_sample (prefilter +
    window sort key); the prefix-property guarantee depends on all three
    using THIS expression."""
    return F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint") / F.lit(float(1 << 32))


def hash_sample(df, rate: float, key_col: str = "doc_id"):
    """Stable Bernoulli sample: keep rows whose md5(key) prefix, read as a
    32-bit fraction, falls below ``rate``. Unlike ``df.sample()`` this is a
    pure column predicate — reproducible across runs/engines/partitionings,
    pushes down past joins, and never needs an RNG seed plumbed through.
    The workhorse for 'same 1% of the crawl every day' pipelines."""
    return df.filter(_md5_frac(key_col) < F.lit(rate))


def stratified_sample(df, k: int, group_col: str = "lang",
                      key_col: str = "doc_id",
                      pre_rate: float | str | None = "auto",
                      auto_max_groups: int = 65536):
    """Deterministic k-per-group sample: rank rows inside each group by
    md5(key) and keep the first k.

    Scale note: the ranking window hash-partitions on ``group_col`` — with
    LOW-cardinality groups (5 languages over 10⁹ docs) that is 5 reducer
    partitions doing all the sorting. The md5-fraction pre-filter fixes it:
    it shrinks each group BEFORE the shuffle without changing the result,
    because the prefilter keeps a PREFIX of the window's own sort order
    (md5/2³² is exactly the sort key) — the result is provably identical
    whenever each group retains ≥ k rows after filtering.

    ``pre_rate='auto'`` (default): derive the rate from one cheap per-group
    count (rate = 10·k / min_group_count), then VERIFY with a second cheap
    agg that every group retained ≥ min(k, group_count) rows — doubling the
    rate until it does (first try succeeds unless the md5 fractions of a
    group are pathologically clustered). Two map-side-combined scans of two
    narrow columns replace an all-data sort on ≤|groups| reducers — the
    right trade at any scale where this operator matters. The auto path
    collects ONE ROW PER GROUP to the driver, so it is GUARDED by an
    ``approx_count_distinct`` probe first — a deliberate extra job: the
    HLL sketch shuffles a few KB regardless of cardinality, whereas
    skipping it and bounding the counts scan with a LIMIT would still
    execute the full one-row-per-group aggregation shuffle in exactly the
    high-cardinality regime the guard exists for (limits cannot push
    below an aggregation). Above ``auto_max_groups`` the prefilter is
    silently disabled — the window already has that many reducers and
    collecting the group domain would be a driver-memory hazard; the
    counts collect also carries a LIMIT as a belt-and-braces bound for
    the ±2% HLL underestimate case. Pass a float to pin the rate (caller
    guarantees adequacy), or ``None`` to disable the prefilter (tiny
    frames, saves the probe job)."""
    from pyspark.sql import Window

    h = F.md5(F.col(key_col).cast("string"))
    rate: float | None = None
    if pre_rate == "auto":
        approx_groups = df.agg(
            F.approx_count_distinct(group_col).alias("g")
        ).collect()[0]["g"]
        counts: dict = {}
        if approx_groups <= auto_max_groups:
            rows = (
                df.groupBy(group_col)
                .agg(F.count("*").alias("n"))
                .limit(2 * auto_max_groups + 1)
                .collect()
            )
            counts = (
                {}
                if len(rows) > 2 * auto_max_groups
                else {r[0]: r[1] for r in rows}
            )
        if counts:
            cand = 10.0 * k / min(counts.values())
            while cand < 1.0:
                kept = {
                    r[0]: r[1]
                    for r in df.filter(_md5_frac(key_col) < F.lit(cand))
                    .groupBy(group_col)
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                if all(
                    kept.get(g, 0) >= min(k, n) for g, n in counts.items()
                ):
                    rate = cand
                    break
                cand *= 2.0  # astronomically rare; bounded by cand < 1.0
    elif pre_rate is not None:
        rate = float(pre_rate)
    if rate is not None and rate < 1.0:
        df = df.filter(_md5_frac(key_col) < F.lit(rate))
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _bucketed_token_frame(df, id_col: str, text_col: str, n_buckets: int):
    """(id, bucket, n_tokens) frame shared by both sequence packers:
    deterministic md5 bucket, null-safe token counts (a NULL text packs as
    0 tokens instead of poisoning the arithmetic), id type PRESERVED
    (string ids stay strings — a silent cast-to-long would null them).
    Fans the narrow frame out BEFORE the per-row text work (token_count is
    regex+split over the full text; a single-row-group scan would run it
    all on one core)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("bigint") % n_buckets
    )
    return ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("id"),
        bucket.alias("bucket"),
        F.coalesce(token_count(text_col), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )


def mix_by_group(df, rates: dict, group_col: str = "lang",
                 key_col: str = "doc_id", default_rate: float = 1.0):
    """Deterministic per-group resampling to a target data mixture — the
    "domain weights" op every pretraining pipeline runs (upweight books,
    downweight boilerplate-heavy domains). ``rates`` maps group value →
    sampling rate; 0 drops the group, 0<r<1 keeps a stable r-fraction,
    r>1 REPLICATES: every row floor(r) times plus one extra copy for a
    stable (r − floor(r))-fraction. Output adds a ``rep`` column
    (0..n_copies−1) so replicated rows stay distinct and downstream
    shuffles key on (id, rep).

    Scale shape: a pure column predicate + a bounded explode — no joins,
    no shuffles, no RNG seed plumbing; the md5-fraction order statistic is
    salted differently from :func:`hash_sample` so composing the two never
    correlates. Deterministic across runs/partitionings/engines. Rows with
    a NULL key hash as the empty string (so integer rates keep them and a
    fractional rate gives them ONE shared fate — a null id carries no
    per-row randomness to draw on). Rows whose GROUP is NULL take
    ``default_rate`` unless ``rates`` carries an explicit ``None`` key,
    which targets exactly the null-group rows (matched null-safely — a
    plain ``=`` comparison could never select them). Refuses a frame that
    already has a
    ``rep`` column: re-mixing replicas would re-derive identical rep
    values per key and silently break (id, rep) uniqueness — drop or
    rename the column (or re-mix the ORIGINAL frame with updated rates,
    which is the deterministic way to adjust weights)."""
    if "rep" in df.columns:
        raise ValueError(
            "mix_by_group input already has a 'rep' column (an earlier mix"
            " pass?): replicas share key_col, so re-mixing would emit"
            " duplicate (id, rep) pairs — re-mix the original frame with"
            " the updated rates instead, or rename/drop 'rep' first"
        )
    if default_rate < 0:
        raise ValueError(f"negative default_rate {default_rate}")
    rate_expr = F.lit(float(default_rate))
    # None sorts first via the key tuple (plain sorted() would TypeError
    # comparing None against str group values)
    for g, r in sorted(
        rates.items(), key=lambda kv: (kv[0] is not None, str(kv[0]))
    ):
        if r < 0:
            raise ValueError(f"negative rate for group {g!r}")
        cond = (
            F.col(group_col).isNull()
            if g is None
            else F.col(group_col) == F.lit(g)
        )
        rate_expr = F.when(cond, F.lit(float(r))).otherwise(rate_expr)
    # salted fraction: distinct stream from hash_sample's md5(key) prefix
    frac = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.coalesce(F.col(key_col).cast("string"), F.lit("")),
                        F.lit(":mix"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 32))
    )
    n_copies = (
        F.floor(rate_expr)
        + (frac < (rate_expr - F.floor(rate_expr))).cast("long")
    ).cast("long")
    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .withColumn(
            "rep",
            F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)),
        )
        .drop("__n_copies")
    )


# ------------------------------------------------------ document chunking
def chunk_documents(df, id_col: str = "doc_id", text_col: str = "text",
                    window: int = 64, stride: int = 48):
    """Fixed-window document chunking with overlap — the standard prep for
    context-bounded consumers (pretraining sequence packing, RAG indexing):
    (id, chunk_id, n_words, chunk) where chunk k covers words
    [k·stride, k·stride + window). ``stride < window`` gives overlapping
    windows so no span longer than (window − stride) words is ever split
    across a chunk boundary without appearing whole in some chunk.

    Pure relational: one transform + posexplode; the only shuffle is
    whatever the consumer adds. Mirrors 1:1 into ANSI SQL."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        raise ValueError(
            f"stride ({stride}) > window ({window}) would silently drop"
            " the words between consecutive windows from every document —"
            " the no-lost-span guarantee requires stride <= window"
        )
    base = ensure_min_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", words(text_col).alias("ws"))
    # number of chunks: 1 + ceil(max(n - window, 0) / stride) — the last
    # chunk is the first one whose window reaches the end of the doc
    chunk_expr = (
        f"transform(sequence(0, cast(ceil(greatest(size(ws) - {window}, 0)"
        f" / {stride}.0) as int)),"
        f" k -> concat_ws(' ', slice(ws, k*{stride}+1, {window})))"
    )
    return base.select(
        F.col("id").alias(id_col),
        F.size("ws").cast("bigint").alias("n_words"),
        F.posexplode(F.expr(chunk_expr)).alias("chunk_id", "chunk"),
    ).select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "n_words",
        "chunk",
    )


def sequence_pack(df, budget: int = 2048, n_buckets: int = 256,
                  id_col: str = "doc_id", text_col: str = "text",
                  _base=None):
    """Assign documents to fixed-token-budget training sequences ("packs"):
    (id, bucket, pack_id, n_tokens) where all docs sharing (bucket,
    pack_id) concatenate into one ~``budget``-token sequence.

    Packing is BUCKET-LOCAL: docs are hash-assigned to ``n_buckets``
    deterministic md5 buckets and packed contiguously (by id) within each —
    exactly how real pipelines pack per-worker, and the scale story: the
    running-total window partitions on ``bucket`` (n_buckets reducers, each
    seeing corpus/n_buckets rows), never a single global sort. Raise
    ``n_buckets`` with corpus size. A document whose tokens straddle a
    boundary joins the pack its FIRST token falls in (packs may overflow by
    one doc's tail — the standard contiguous-fill rule; oversized docs
    should be chunked first, see :func:`chunk_documents`).

    Deterministic and engine-mirrorable: bucket = md5 prefix (the same
    order statistic hash_sample uses), pack_id = floor(preceding-tokens /
    budget) over the (bucket, id) order.

    ``_base``: a pre-computed :func:`_bucketed_token_frame` (same id/text
    cols and n_buckets) — callers running BOTH packers over one input
    pass it so the tokenization happens once (round 9)."""
    from pyspark.sql import Window

    base = (_base if _base is not None
            else _bucketed_token_frame(df, id_col, text_col, n_buckets))
    w = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(budget)
        ).cast("bigint"),
    ).select(F.col("id").alias(id_col), "bucket", "pack_id", "n_tokens")


def sequence_pack_greedy(df, budget: int = 512, n_buckets: int = 64,
                         id_col: str = "doc_id", text_col: str = "text",
                         _base=None):
    """Greedy Best-Fit-Decreasing pack assignment — the tighter cousin of
    :func:`sequence_pack`: docs are sorted by (n_tokens desc, id) inside
    each bucket and each goes into the open pack with the LEAST remaining
    room that still fits (tie → lowest pack id; none fits → open a new
    pack), so packs NEVER exceed ``budget`` (the one exception: a single
    document longer than the whole budget gets its own singleton pack —
    chunk such docs first, :func:`chunk_documents`). BFD shares FFD's
    ≤ ~22% worst-case waste vs optimal bin packing, fills at least as
    tightly in practice, and — unlike the round-4 first-fit linear scan —
    FINDS each doc's pack in O(log packs) via bisect on a capacity-sorted
    open-pack list. The pop/insort maintenance is still an O(packs)
    memmove, but that is a C-speed block copy, not the Python compare
    loop the old scan ran: the measured 20k-doc/10k-pack tripwire case
    dropped from minutes to ~a second. Truly huge buckets (≥10⁶ open
    packs) would want a balanced tree; raise ``n_buckets`` first — that
    is the designed scale knob.

    This is the grouped-map (applyInPandas) tier: the per-bucket
    best-fit loop is inherently sequential state the window/agg algebra
    can't express, exactly the documented escape hatch. Scale story
    matches sequence_pack: hash-bucketed (`n_buckets` Arrow groups, each
    corpus/n_buckets rows — raise with corpus size), deterministic
    (md5 bucket + total (n_tokens desc, id) order, no RNG), output shape
    identical to sequence_pack: (id, bucket, pack_id, n_tokens)."""
    import bisect

    base = (_base if _base is not None
            else _bucketed_token_frame(df, id_col, text_col, n_buckets))
    id_type = base.schema["id"].dataType.simpleString()

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        # open packs as a sorted list of (remaining, pack_id): bisect for
        # the smallest remaining >= t gives best-fit with the lowest pack
        # id among equals in O(log packs) per doc
        open_packs: list[tuple[int, int]] = []
        n_packs = 0
        assign: list[int] = []
        for t in pdf["n_tokens"]:
            t = int(t)
            j = bisect.bisect_left(open_packs, (t, -1))
            if j < len(open_packs):
                rem, pid = open_packs.pop(j)
                bisect.insort(open_packs, (rem - t, pid))
            else:
                pid = n_packs
                n_packs += 1
                bisect.insort(open_packs, (budget - t, pid))
            assign.append(pid)
        pdf["pack_id"] = pd.Series(assign, dtype="int64")
        return pdf

    out = base.groupBy("bucket").applyInPandas(
        pack,
        schema=f"id {id_type}, bucket long, n_tokens long, pack_id long",
    )
    return out.select(
        F.col("id").alias(id_col), "bucket", "pack_id", "n_tokens"
    )


# ----------------------------------------------------------- TF-IDF terms
def tfidf_top_terms(df, id_col: str = "doc_id", text_col: str = "text",
                    k: int = 3):
    """Top-k characteristic terms per document by a rational tf-idf
    (tf × N / df — no logarithm, so the score is exact integer arithmetic
    in double precision and mirrors bit-for-bit into any SQL engine; the
    ranking is the same as with log idf for fixed tf).

    Plan shape: one explode + two hash aggs (term counts, doc frequency)
    + a broadcast-eligible join on term + one window for the top-k. All
    shuffles are on (term) or (id) keys — AQE-skew-splittable."""
    from pyspark.sql import Window

    w = words(text_col)
    terms = ensure_min_partitions(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), F.explode(w).alias("term")
    ).filter(F.col("term") != "").withColumn("term", F.lower(F.col("term")))
    n_docs = df.select(F.col(id_col)).distinct().count()
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = terms.select("id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        F.round(F.col("tf") * F.lit(float(n_docs)) / F.col("df"), 6),
    )
    rank = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rank))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("id").alias(id_col),
            "term",
            "score",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# 64-bit SimHash as FOUR 16-bit band signatures (no sign-bit packing
# games): band j draws bit i from md5 hex char (char_off + i + 1), testing
# hex bit 3 or 2. Bands partition the 64 bits, so total Hamming distance =
# sum of per-band distances — and any pair within Hamming <= 3 agrees
# EXACTLY on >= 1 of the 4 bands (pigeonhole), which is what makes banded
# candidate generation complete (Manku et al., WWW'07 shape).
SIMHASH_BANDS = ((0, 3), (0, 2), (16, 3), (16, 2))  # (md5 char offset, bit)
SIMHASH_HI = {3: tuple("89abcdef"), 2: tuple("4567cdef")}


def simhash_bands_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, s0, s1, s2, s3): four 16-bit SimHash band signatures per doc.

    One shuffle-free projection since round 9 (same rewrite and A/B
    rationale as :func:`simhash_table`): bound per-word md5 array, 64
    in-row bit votes. Row-set parity with the former plain-explode
    aggregate is preserved explicitly: a NULL-text doc was DROPPED there
    (explode of a NULL array emits nothing), so the projection filters
    NULL word arrays rather than inventing an all-zero signature that
    would suddenly band-match other degenerate docs."""
    base = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col).alias("id"), words(text_col).alias("ws")).filter(
        F.col("ws").isNotNull()
    ).select(
        "id", F.size("ws").alias("n"),
        F.transform("ws", lambda x: F.md5(x)).alias("hs"),
    )
    n = F.col("n")

    def bit_pred(pos: int, hi_chars: str):
        # closure factory — defaulted extra params would raise the lambda
        # arity above 1 and PySpark would bind the element index to them
        def pred(h):
            return F.substring(h, pos, 1).rlike(f"[{hi_chars}]")

        return pred

    outs = []
    for j, (off, bitno) in enumerate(SIMHASH_BANDS):
        hi_chars = "".join(SIMHASH_HI[bitno])
        total = F.lit(0).cast("bigint")
        for i in range(16):
            ones = F.size(F.filter(F.col("hs"), bit_pred(off + i + 1, hi_chars)))
            bit = F.when((n > 0) & (ones * 2 > n), F.lit(1)).otherwise(
                F.lit(0)
            )
            total = total + bit.cast("bigint") * F.lit(1 << i).cast("bigint")
        outs.append(total.alias(f"s{j}"))
    return base.select(F.col("id").alias(id_col), *outs)


# ------------------------------------- hashed-ngram linear quality classifier
# The scorer shape real curation stacks actually run (fastText's linear
# model over hashed n-gram features, cf. CCNet's quality LM and the
# fastText supervised classifier): hash each word bigram into B buckets,
# average the bucket weights, squash to (0, 1). Weights here are a FIXED
# md5-derived literal vector (a stand-in for trained parameters — swapping
# in real fastText weights is a constant-table change, the dataflow is
# identical); everything is pure column algebra, so the score mirrors into
# ANSI SQL and the driver hash-checks it per document.
QCLF_BUCKETS = 64
QCLF_BIAS = -0.1


def qclf_weights(n_buckets: int = QCLF_BUCKETS) -> list[float]:
    """Deterministic pseudo-trained weights in [-1, 1], 6dp — the same
    literal values render into the Spark plan and the DuckDB mirror."""
    import hashlib

    out = []
    for j in range(n_buckets):
        h = int(hashlib.md5(f"qclf:{j}".encode()).hexdigest()[:8], 16)
        out.append(round(h / float(1 << 32) * 2.0 - 1.0, 6))
    return out


def _qclf_bucket(bigram: Column, n_buckets: int) -> Column:
    return (
        F.conv(F.substring(F.md5(bigram), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )


def quality_clf_score(
    col: Column | str,
    n_buckets: int = QCLF_BUCKETS,
    bias: float = QCLF_BIAS,
    round_dp: int = 5,
) -> Column:
    """Linear classifier score in (0, 1): sigmoid-shaped squash of
    bias + mean over word bigrams of W[md5-bucket(bigram)].

    The squash is the ALGEBRAIC sigmoid 0.5 + 0.5·z/(1+|z|), not the
    logistic: it uses only +·/|·| so Spark's JVM and DuckDB's libm produce
    bit-identical doubles (exp() can differ by an ulp across engines and
    flip a rounded hash-gate). Monotone in z, so any threshold gate is
    order-equivalent to the logistic's. Documents with fewer than two
    words score the bias alone. Zero UDFs, zero shuffles — a pure
    predicate that pushes down like hash_sample.

    Expression shape: each stage is BOUND once through a one-element
    transform() before reuse (the bigram array feeds the fold AND two
    size() references; z feeds the squash twice). Without the binding the
    whole upstream tree re-evaluates per reference and the tree grows past
    whole-stage codegen's limits — measured 36 s → sub-second at sf0.1 on
    the driver corpus."""
    W = F.array(*[F.lit(w) for w in qclf_weights(n_buckets)])

    def _once(col_expr, fn):
        # evaluate col_expr exactly once: bind it as the element of a
        # single-element array and compute fn on the lambda variable
        return F.element_at(F.transform(F.array(col_expr), fn), 1)

    def _bigrams(wsv: Column) -> Column:
        return F.when(
            F.size(wsv) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(wsv) - 1),
                lambda i: F.concat(
                    F.element_at(wsv, i),
                    F.lit(" "),
                    F.element_at(wsv, i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _z_of(bg: Column, wv: Column) -> Column:
        contrib = F.transform(
            bg,
            lambda b: F.element_at(
                wv, (_qclf_bucket(b, n_buckets) + 1).cast("int")
            ),
        )
        n_bi = F.size(bg)
        # sequential left fold — the same summation order as DuckDB
        # list_sum in the qclf_sql mirror
        return F.lit(float(bias)) + F.when(
            n_bi > 0,
            F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)
            / n_bi,
        ).otherwise(F.lit(0.0))

    # every reused stage rides in ONE struct element: the tokenizer (a
    # regex split — would otherwise re-run per bigram), the 64-literal
    # weight array (would otherwise be rebuilt per element), the bigram
    # array, and z each evaluate exactly once per row
    packed = F.struct(words(col).alias("ws"), W.alias("w"))
    score = _once(
        packed,
        lambda r: _once(
            F.struct(_bigrams(r["ws"]).alias("bg"), r["w"].alias("w")),
            lambda r2: _once(
                _z_of(r2["bg"], r2["w"]),
                lambda z: F.lit(0.5)
                + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z)),
            ),
        ),
    )
    return F.round(score, round_dp)


def quality_clf_gate(df, threshold: float = 0.5, text_col: str = "text"):
    """The classifier as a curation gate: keep rows scoring ≥ threshold —
    the drop-in alternative to the rule-based gopher_filter."""
    return df.filter(quality_clf_score(text_col) >= F.lit(threshold))


def qclf_sql(text_expr: str = "text", n_buckets: int = QCLF_BUCKETS,
             bias: float = QCLF_BIAS, round_dp: int = 5) -> str:
    """The DuckDB mirror of quality_clf_score over ``text_expr`` — kept
    next to the Spark expression so the weight literals, bucket rule,
    fold order (list_sum == sequential) and squash algebra cannot drift
    apart."""
    w_lit = "[" + ", ".join(repr(w) for w in qclf_weights(n_buckets)) + "]"
    norm = f"regexp_replace(trim({text_expr}), '\\s+', ' ', 'g')"
    ws = f"string_split({norm}, ' ')"
    bg = (
        f"list_transform(generate_series(1, greatest(len({ws}) - 1, 0)),"
        f" i -> {ws}[i] || ' ' || {ws}[i + 1])"
    )
    contrib = (
        f"list_transform({bg}, b -> list_extract({w_lit},"
        f" CAST(CAST(concat('0x', substr(md5(b), 1, 8)) AS UBIGINT)"
        f" % {n_buckets} + 1 AS INT)))"
    )
    z = (
        f"({bias!r} + CASE WHEN len({bg}) > 0"
        f" THEN list_sum({contrib}) / len({bg}) ELSE 0.0 END)"
    )
    return f"round(0.5 + 0.5 * {z} / (1.0 + abs({z})), {round_dp})"
