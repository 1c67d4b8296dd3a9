"""Text analysis functions for training-data pipelines, all JVM-side
(built-in ``pyspark.sql.functions`` — no Python in the hot path).

Each returns Column expressions usable in any projection; the driver
contract exposes them as queries with DuckDB-parity oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# token that a BPE-ish pre-tokenizer would emit: word or single non-space
# punctuation (portable regex — no backslash classes, see contract.py)
BPE_TOKEN_RE = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")


def ws_token_count(text: Column) -> Column:
    """Whitespace tokens (empty string -> 0)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), " +"))
    )


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(F.regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    return F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 6)


def stopword_ratio(text: Column) -> Column:
    words = F.split(F.lower(text), " +")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    return F.round(n_stop / F.greatest(F.size(words), F.lit(1)), 6)


def avg_word_len(text: Column) -> Column:
    words = F.split(F.trim(text), " +")
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.round(total / F.greatest(F.size(words), F.lit(1)), 6)


def quality_score(text: Column) -> Column:
    """Deterministic heuristic quality in [0,1]: rewards mid-length docs
    and healthy stopword presence, penalizes punctuation soup."""
    n = ws_token_count(text)
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return F.round((len_term + stop_term + punct_term) / 3, 6)


# language-ID: n-gram/stopword evidence per language, argmax with a
# deterministic tie-break on language code. Marker lists are the classic
# closed-class giveaway words.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "die", "und", "ist", "mit"),
    "fr": ("le", "la", "et", "est", "avec"),
    "es": ("el", "la", "y", "es", "con"),
    "zh": ("de", "shi", "he", "zai", "le"),
}


def _marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    words = F.split(F.lower(text), " +")
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def lang_id(text: Column) -> Column:
    """Predicted language = argmax marker hits (ties -> lexicographically
    smallest code; 'und' when nothing matches)."""
    scored = F.array(
        *[
            F.struct(_marker_hits(text, m).alias("hits"), F.lit(code).alias("code"))
            for code, m in sorted(LANG_MARKERS.items())
        ]
    )
    # argmax with smallest-code tie-break: scored is code-ordered, so the
    # FIRST element reaching max hits wins (filter preserves array order)
    max_hits = F.array_max(F.transform(scored, lambda s: s["hits"]))
    best = F.element_at(F.filter(scored, lambda s: s["hits"] == max_hits), 1)
    return F.when(max_hits > 0, best["code"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of lowercased text with
    non-alphanumerics collapsed — the standard near-dup canonicalization."""
    canon = F.regexp_replace(F.lower(text), "[^a-z0-9]+", " ")
    return F.md5(F.trim(canon))


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the rolling-hash fingerprint scheme): hash every k-gram
    of the canonicalized text, slide a w-hash window, keep each window's
    MINIMUM hash (rightmost on ties, per the paper), dedupe consecutive
    selections. Guarantees any match of length >= w+k-1 shares a
    fingerprint; output size ~ 2/(w+1) of the k-gram count.

    Declarative Spark shape: k-grams via transform over an index
    sequence, the rolling window via the min-over-frame window function
    — no UDF. Hashes are md5 prefixes, so the DuckDB oracle replays the
    selection exactly. Returns (doc_id, pos, fp) — pos is the k-gram
    start (0-based) of each selected fingerprint.
    """
    from pyspark.sql.window import Window

    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    n_grams = F.length(canon) - (k - 1)
    grams = docs.select(
        F.col("doc_id"), canon.alias("c")
    ).filter(n_grams >= 1).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length(F.col("c")) - (k - 1)),
                lambda i: F.substr(F.col("c"), i, F.lit(k)),
            )
        ).alias("pos", "gram"),
    )
    # 24-bit hash from the md5 prefix, packed with the BIT-FLIPPED
    # position into one key: min(key) over the window IS the paper's
    # "minimum hash, rightmost on ties" selection in a single window pass
    # (no nested window referencing another window's aggregate — that
    # construct silently compares each frame-row against its OWN min).
    # 24+24 bits keeps the key far inside int64; a doc with >= 2^24
    # k-grams (a 16M-char document) would alias positions, so it raises
    # loudly instead of silently mis-fingerprinting.
    M = 1 << 24
    guarded_pos = F.when(F.col("pos") < M, F.col("pos")).otherwise(
        F.raise_error(
            F.lit("winnow_fingerprints: document exceeds 2^24 k-grams")
        ).cast("int")
    )
    hashed = grams.select(
        "doc_id",
        guarded_pos.alias("pos"),
        F.conv(F.substring(F.md5(F.col("gram")), 1, 6), 16, 10).cast("bigint").alias("h"),
    )
    key = F.col("h") * M + (M - 1 - F.col("pos"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    packed = (
        hashed.withColumn("kmin", F.min(key).over(win))
        .withColumn("wsz", F.count("*").over(win))
        .filter(F.col("wsz") >= w)  # only full windows select
        .select(
            "doc_id",
            (F.lit(M - 1) - F.col("kmin") % M).cast("int").alias("pos"),
            # keys < 2^48: the double division is exact; floor = int div
            F.floor(F.col("kmin") / M).cast("bigint").alias("fp"),
        )
        .distinct()
    )
    return packed


def word_ngram_array(text: Column, n: int) -> Column:
    """Sliding word n-gram array (JVM array exprs, codegen'd): the ONE
    definition of gram construction — dedup shingling and frequency
    stats both build on it, so tokenization fixes land everywhere."""
    # slice+zip, not transform-over-sequence with element_at: a lambda
    # body re-evaluates its outer subexpressions PER ELEMENT, so the
    # element_at form re-split the text n times per gram (~n*|words|
    # splits per row — measured 2.7 s of the old 4 s dedup shingling at
    # sf0.1). Here split evaluates n times per ROW (once per slice) and
    # the transform only concatenates struct fields. Output-identical:
    # slice j covers words[j+1 .. j+k], so zipped element i is exactly
    # (words[i], …, words[i+n-1]); every slice has exactly k elements,
    # so no null padding ever reaches concat_ws.
    words = F.split(text, " ")
    k = F.size(words) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(words, j + 1, k).alias(f"w{j}") for j in range(n)]
    )
    return F.when(
        k > 0,
        F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_freq_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus n-gram frequency stats: the top-``k`` word bigrams per
    ``source`` with occurrence counts (NON-distinct, unlike dedup
    shingles — frequency is the point) and a deterministic rank
    (count desc, gram asc).

    Plan: explode grams (JVM array exprs) -> partial-aggregated
    groupBy((source, gram)) -> per-group top-k window over only the
    aggregated counts. The explosion never leaves the JVM and the
    window input is |distinct grams|, not |occurrences|."""
    from pyspark.sql.window import Window

    grams = word_ngram_array(F.col("text"), 2)
    freq = (
        docs.select(F.col("source"), F.explode(grams).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_occ"), F.asc("gram"))
    return (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", "gram", "n_occ", "rank")
    )


# PII scrubbing — the redaction pass a training corpus runs before
# anything ships. Patterns written with portable character classes
# (no backslash shorthands; single-quote escaping differs between
# engines — same rule as contract.py's determinism policy).
PII_PATTERNS = (
    # order matters: emails before bare domains/phones
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    # NANP-ish phone: optional +1 / 1, separators space - .
    ("[+]?1?[-. ]?[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact emails, phone numbers and IPv4 literals with typed
    placeholder tags. Pure JVM regexp_replace chain — pushes through
    codegen like every other text op; patterns are anchored to avoid
    over-matching (phones require separators, so token ids and plain
    number runs survive)."""
    out = text
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_hits(text: Column) -> Column:
    """Count of PII spans that scrub_pii actually redacts: each pattern
    counts against the text AFTER earlier patterns were replaced, so PII
    nested inside an earlier match (a phone inside an email local-part)
    is not double-counted — the count always equals the number of
    substitutions scrub_pii performs."""
    total = F.lit(0)
    cur = text
    for pat, tag in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, tag)
    return total


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Within-document repetition — the duplicate-n-gram quality rules
    of large-corpus filters (the MassiveText/Gopher "repetition" family,
    Rae et al. 2021 §A1.1): heavily self-repeating documents (boiler-
    plate, keyword stuffing, generation loops) are low-quality even when
    globally unique.

    Per doc: (doc_id, n_grams, n_distinct, dup_fraction, top_share)
    where ``dup_fraction`` = 1 − distinct/total n-grams and
    ``top_share`` = occurrences of the most frequent n-gram / total.
    Docs with no n-grams are absent. ENTIRELY inside the row: the gram
    array, its distinct count, and the max-occurrence count are JVM
    array expressions — zero shuffle, no explode (contrast
    ``ngram_freq_topk``, which aggregates across docs)."""
    # max occurrence of any gram = longest equal run in the SORTED gram
    # array: O(n log n) per row. (The obvious per-distinct-gram count
    # via filter() is O(distinct × total) — quadratic on exactly the
    # long repetitive docs this metric exists to catch.) The sorted
    # array is MATERIALIZED as a projected column first: referencing
    # an inline array_sort(...) expression from inside a lambda makes
    # Catalyst re-evaluate the whole sort per element_at — O(n² log n).
    staged = docs.select(
        F.col("doc_id"),
        word_ngram_array(F.col("text"), 2).alias("_g"),
    ).select(
        "doc_id",
        F.size("_g").alias("_m"),
        F.size(F.array_distinct("_g")).alias("_nd"),
        F.array_sort("_g").alias("_s"),
    )
    m = F.col("_m")
    run_bounds = F.concat(
        F.array(F.lit(1)),
        F.when(
            m >= 2,
            F.filter(
                F.sequence(F.lit(2), m),
                lambda i: F.element_at(F.col("_s"), i)
                != F.element_at(F.col("_s"), i - 1),
            ),
        ).otherwise(F.array().cast("array<int>")),
        F.array(m + 1),
    )
    staged = staged.withColumn("_rb", run_bounds)
    runs = F.transform(
        F.sequence(F.lit(1), F.size("_rb") - 1),
        lambda j: F.element_at(F.col("_rb"), j + 1) - F.element_at(F.col("_rb"), j),
    )
    return (
        staged.select(
            "doc_id",
            F.col("_m").alias("n_grams"),
            F.col("_nd").alias("n_distinct"),
            F.array_max(runs).alias("_top"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 6
            ).alias("dup_fraction"),
            F.round(F.col("_top") / F.col("n_grams"), 6).alias("top_share"),
        )
    )


def lm_avg_prob(corpus: DataFrame, model: DataFrame) -> DataFrame:
    """Char-bigram language-model quality score (the CCNet-style "does a
    simple LM like this text" signal, in its engine-portable form): per
    corpus doc, the MEAN add-one-smoothed bigram probability under a
    model trained on ``model``'s texts:

        p(b | a) = (c(ab) + 1) / (c(a·) + V)

    with c(ab) = bigram count in the model corpus, c(a·) = count of
    ``a`` as a bigram LEFT, V = |distinct chars| in the model corpus.
    Unseen contexts fall back to 1/V. Output: (doc_id, n_bigrams,
    avg_prob) for docs with >= 2 chars.

    Determinism (why MEAN PROB, not perplexity): every p is one IEEE
    division of two integers — correctly rounded, so bit-identical on
    any engine — whereas log10 is not correctly-rounded libm and can
    differ in the last ulp between JVM and DuckDB. The sum follows the
    engine's oracle float rule: cast each p to DECIMAL(28,12)
    (deterministic, order-independent), divide as DOUBLE, round.

    Plan at 100 TB: model counts are |vocab|^2-bounded (tiny) and
    broadcast; the corpus explodes to bigrams once and aggregates per
    doc — one map-side-combined shuffle on doc_id."""
    def bigrams(df):
        chars = F.filter(F.split(F.col("text"), ""), lambda c: c != "")
        n = F.size(chars)
        z = F.arrays_zip(
            F.slice(chars, 1, n - 1).alias("a"), F.slice(chars, 2, n - 1).alias("b")
        )
        return df.filter(n >= 2).select(
            F.col("doc_id"), F.explode(z).alias("p")
        ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))

    mb = bigrams(model)
    c_ab = mb.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    c_a = mb.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = model.select(
        F.explode(F.filter(F.split(F.col("text"), ""), lambda c: c != "")).alias("ch")
    ).agg(F.countDistinct("ch").alias("v"))

    cb = bigrams(corpus)
    p = (F.coalesce(F.col("c_ab"), F.lit(0)) + 1).cast("double") / (
        F.coalesce(F.col("c_a"), F.lit(0)) + F.col("v")
    ).cast("double")
    return (
        cb.join(F.broadcast(c_ab), ["a", "b"], "left")
        .join(F.broadcast(c_a), "a", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(p.cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_prob"),
        )
    )


def char_distribution_drift(docs: DataFrame) -> DataFrame:
    """Per-group TOTAL-VARIATION distance between the group's char
    distribution and the whole corpus's:

        tv(g) = 0.5 · Σ_ch | c(g, ch)/n(g) − c(ch)/n |

    over the CORPUS vocabulary (chars a group never emits contribute
    their full corpus probability) — the distribution-drift monitor a
    training pipeline runs per source/snapshot to catch a feed going
    off-profile. Groups are the ``source`` column. Output: (group,
    n_chars, tv) rounded to 6 decimals.

    Why TV and not KL: KL needs log, and libm log is not correctly
    rounded — JVM and DuckDB can disagree in the last ulp. TV is
    division/subtraction/abs only: each probability is ONE IEEE division
    of two exact integer counts (correctly rounded, engine-portable —
    same argument as ``lm_avg_prob``), the difference and abs are
    exactly-rounded double ops, and the sum follows the engine's oracle
    float rule (per-term DECIMAL(28,12) cast, exact order-independent
    sum, halve as double, round).

    Plan at 100 TB: one explode -> two map-side-combined groupBys
    ((group, ch) and ch — shuffles of |groups|·|vocab| and |vocab|
    rows); the |vocab|-row and |groups|-row frames join into a bounded
    grid (broadcast), and the 1-row corpus total broadcasts onto it —
    the corpus is scanned once, nothing corpus-sized shuffles."""
    chars = docs.select(
        F.col("source").alias("group"),
        F.explode(F.filter(F.split(F.col("text"), ""), lambda c: c != "")).alias(
            "ch"
        ),
    )
    per = chars.groupBy("group", "ch").agg(F.count(F.lit(1)).alias("c_gc"))
    vocab = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("c_c"))
    per_g = chars.groupBy("group").agg(F.count(F.lit(1)).alias("n_g"))
    total = vocab.agg(F.sum("c_c").alias("n"))

    grid = per_g.join(F.broadcast(vocab))  # |groups| x |vocab|, bounded
    term = F.abs(
        F.coalesce(F.col("c_gc"), F.lit(0)).cast("double") / F.col("n_g")
        - F.col("c_c").cast("double") / F.col("n")
    )
    return (
        grid.join(F.broadcast(per), ["group", "ch"], "left")
        .join(F.broadcast(total))
        .groupBy("group")
        .agg(
            F.max("n_g").cast("long").alias("n_chars"),
            F.round(
                F.sum(term.cast("decimal(28,12)")).cast("double") / 2,
                6,
            ).alias("tv"),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models" §A1.1 class of filters) as a per-doc flag frame:

    * ``word_count_ok``    — 50 <= n_words <= 100,000
    * ``mean_word_len_ok`` — mean word length in [3, 10]
    * ``hash_ratio_ok``    — '#' chars <= 10% of chars
    * ``ellipsis_ratio_ok``— '...' occurrences <= 30% of words
    * ``alpha_word_ok``    — >= 80% of words contain a letter
    * ``stopword_ok``      — >= 2 distinct common stopwords present
    * ``kept``             — all of the above

    Every threshold is evaluated in INTEGER cross-multiplied form
    (3·n <= len <= 10·n, not len/n in [3,10]) — no float division, so
    the flags are bit-portable across engines by construction. Words =
    single-space split, empties dropped (the engine's convention).

    Plan: pure JVM expressions, zero shuffles/joins — a pushed filter at
    any scale."""
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    n_words = F.size(words)
    total_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    n_chars = F.length("text")
    n_hash = n_chars - F.length(F.regexp_replace(F.col("text"), "#", ""))
    n_ellipsis = (
        n_chars - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / 3
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    word_count_ok = (n_words >= 50) & (n_words <= 100_000)
    mean_len_ok = (total_len >= 3 * n_words.cast("long")) & (
        total_len <= 10 * n_words.cast("long")
    )
    hash_ok = n_hash * 10 <= n_chars
    ellipsis_ok = n_ellipsis.cast("long") * 10 <= F.lit(3) * n_words.cast("long")
    alpha_ok = n_alpha * 5 >= n_words * 4
    stop_ok = n_stop >= 2
    return docs.select(
        F.col("doc_id"),
        n_words.cast("long").alias("n_words"),
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_word_len_ok"),
        hash_ok.alias("hash_ratio_ok"),
        ellipsis_ok.alias("ellipsis_ratio_ok"),
        alpha_ok.alias("alpha_word_ok"),
        stop_ok.alias("stopword_ok"),
        (
            word_count_ok & mean_len_ok & hash_ok & ellipsis_ok & alpha_ok & stop_ok
        ).alias("kept"),
    )
