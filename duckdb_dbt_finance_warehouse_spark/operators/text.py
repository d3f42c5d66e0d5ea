"""Text analysis operators for training-data pipelines (SURVEY §7.6):
language ID, quality scoring, token counting, document fingerprinting.
All pure built-in column expressions — regex + string ops run in codegen,
so a 100 TB corpus pays one scan and (for langid) one small broadcast
join + grouped argmax.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..state import shared, stored
from .dedup import char_grams, normalize_text, spread_input, word_grams, words
from .sampling import md5_bits

# tiny per-language stopword inventories for the n-gram/stopword heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "ein"],
    "es": ["el", "la", "los", "de", "que", "es", "con", "una"],
    "fr": ["le", "la", "les", "et", "est", "que", "des", "une"],
}


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return spread_input(df).select(
        F.col(id_col),
        F.explode(words(text_col)).alias("tok"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language ID: per-language token-occurrence counts
    as conditional sums in ONE doc-keyed aggregation (the stopword
    inventories are tiny compile-time constants, so they inline as
    IN-lists — no join, no argmax window), then a deterministic argmax
    across the language columns (ties break to the smallest language
    code); docs with no stopword hits -> 'und' (undetermined).

    One explode + one shuffle carrying |langs| small longs per doc —
    map-side combine collapses each doc before the exchange."""
    langs = sorted(STOPWORDS)
    toks = tokens(df, id_col, text_col)
    counts = toks.groupBy(id_col).agg(
        *[
            F.count_if(F.col("tok").isin(STOPWORDS[lang])).alias(f"_v_{lang}")
            for lang in langs
        ]
    )
    mx = F.greatest(*[F.col(f"_v_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed so the FIRST (smallest) language code wins exact ties
    for lang in reversed(langs):
        pred = F.when(
            (mx > 0) & (F.col(f"_v_{lang}") == mx), F.lit(lang)
        ).otherwise(pred)
    best = counts.select(
        id_col,
        pred.alias("pred_lang"),
        F.when(mx > 0, mx).otherwise(F.lit(0)).alias("votes"),
    )
    return df.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("votes", F.lit(0)).alias("votes"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features + a composite score in [0,1]:
    length band, punctuation density, stopword ratio, mean word length.
    Mirrors the shape of C4/Gopher-style quality filters."""
    t = normalize_text(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(words(text_col))
    n_punct = F.length(F.regexp_replace(t, r"[^\.,;:!\?]", ""))
    all_sw = [w for ws in STOPWORDS.values() for w in ws]
    sw_arr = F.array(*[F.lit(w) for w in all_sw])
    n_stop = F.size(F.array_intersect(words(text_col), sw_arr))
    mean_wlen = (n_chars - (n_tokens - 1)) / n_tokens
    score = (
        F.when((n_chars >= 50) & (n_chars <= 10000), 0.4).otherwise(0.0)
        + F.when((n_punct / F.greatest(n_chars, F.lit(1))) < 0.1, 0.3).otherwise(0.0)
        + F.when(n_stop > 0, 0.3).otherwise(0.0)
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_norm"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopword_kinds"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(score, 2).alias("quality_score"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy: word chunks of
    <=4 chars (ceil(len/4) per word) the way byte-pair vocabularies
    fragment long words, + punctuation as single tokens."""
    ws = words(text_col)
    # ceil over a decimal quotient: exact, and the SQL oracle's 4.0 literal
    bpe_ish = F.aggregate(
        F.transform(ws, lambda w: F.ceil(F.length(w) / F.lit(Decimal("4.0"))).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return df.select(
        F.col(id_col),
        F.size(ws).alias("n_ws_tokens"),
        bpe_ish.alias("n_bpe_ish_tokens"),
        F.length(normalize_text(text_col)).alias("n_chars_norm"),
    )


def tf_idf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """Top-k terms per document by tf-idf.

    tf = term count in doc; idf = ln(N / df_t) (natural log, no
    smoothing — identical IEEE ops in any engine). The corpus is
    tokenized ONCE: the (doc, term) frequency table is shared
    and doc-frequency derives from it by a second, far smaller
    aggregation (tf rows ARE the distinct (doc, term) pairs — no second
    explode, no distinct). At 100 TB the term-keyed shuffles are the
    only large exchanges and they key on the term, which is
    high-cardinality and evenly distributed."""
    toks = tokens(df, id_col, text_col)
    tf = shared(toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf")))
    n_docs = df.select(F.count("*").alias("n_docs"))
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df_t"))
    scored = (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "tok",
            "tf",
            "df_t",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6).alias(
                "tf_idf"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "tok", "tf", F.col("df_t").alias("doc_freq"), "tf_idf", "rank")
    )


def vocab_coverage(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 256
) -> DataFrame:
    """Corpus vocabulary head: the ``top_k`` most frequent tokens with
    their cumulative share of ALL token occurrences — the
    tokenizer-training precursor ('how much of the stream does a
    k-entry vocab cover?') and the drop-in check for mixture shifts
    between corpus snapshots.

    Scale shape: one token-keyed grouped count (map-side combine eats
    the explode volume), a distributed TakeOrdered for the global
    top-k (count desc, token asc — deterministic), and the cumulative
    sum over the k survivors via a single-row collect_list fold —
    BOUNDED state (k rows), no global window, no 'No Partition
    Defined'. The total-occurrence denominator rides in from a scalar
    aggregate over the same grouped counts (broadcast 1-row join).
    Output: (rank, token, n_occurrences, cum_share)."""
    toks = tokens(df, id_col, text_col).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").alias("_total"))
    top = (
        counts.orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(top_k)
        # ascending struct sort on (-count, token) == (count desc, token
        # asc) — the same deterministic order the TakeOrdered used
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("n_occurrences")).alias("_negn"),
                        F.col("tok"),
                        F.col("n_occurrences"),
                    )
                )
            ).alias("_ts")
        )
        .select(
            F.explode(
                F.expr(
                    "transform(_ts, (t, i) -> struct("
                    "CAST(i + 1 AS INT) AS rank, t.tok AS token, "
                    "t.n_occurrences AS n_occurrences, "
                    "aggregate(slice(_ts, 1, i + 1), 0L, (acc, x) -> acc + x.n_occurrences)"
                    " AS _cum))"
                )
            ).alias("_r")
        )
        .select("_r.rank", "_r.token", "_r.n_occurrences", "_r._cum")
    )
    return (
        top.join(F.broadcast(total))
        .select(
            "rank",
            "token",
            "n_occurrences",
            F.round(F.col("_cum") / F.col("_total"), 6).alias("cum_share"),
        )
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalization-robust document fingerprint: md5 of the canonical
    text and of its sorted token multiset (catches reorderings)."""
    t = normalize_text(text_col)
    return df.select(
        F.col(id_col),
        F.md5(t).alias("content_fp"),
        F.md5(F.concat_ws(" ", F.array_sort(words(text_col)))).alias("bag_fp"),
    )


def word_ngrams_all(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """ALL word n-grams per document (space-joined token windows,
    duplicates kept) — just the explode (plus the spread_input guard
    when the scan is under-split)."""
    return spread_input(df).select(
        F.col(id_col), words(text_col).alias("_t")
    ).select(id_col, F.explode(word_grams("_t", n)).alias("gram"))


def word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-grams per document (space-joined token windows),
    computed engine-side from the normalized token array.

    The per-doc distinct set is a pure function of one row, so it is
    built IN-ROW — ``array_distinct`` over the gram array, then the
    explode — never a shuffle-DISTINCT over corpus-gram volume (the
    house rule): the old ``.distinct()`` exchanged the full 10-50x gram
    stream keyed on (id, gram) before every consumer re-shuffled it
    again on its own key (boilerplate's (source, gram) count,
    containment's gram-keyed pair emitter, decontaminate's gram join)."""
    return spread_input(df).select(
        F.col(id_col), words(text_col).alias("_t")
    ).select(id_col, F.explode(F.array_distinct(word_grams("_t", n))).alias("gram"))


def word_ngram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Distinct word n-grams per document as 60-bit md5-half hashes
    (``_gh``) — for consumers that only ever KEY on the gram (candidate
    generation, intersection counts), never output it.  An 8-byte long
    replaces the ~n·word-length gram string in every downstream
    exchange (groupBy, semi join, verify joins) — the dictionary-
    encoding discipline applied to gram keys.  Hashing happens IN-ROW
    before the in-row distinct, so "distinct grams" means distinct
    HASHES (a 60-bit collision would merge two grams — deterministic,
    and the DuckDB oracle replays the identical md5 half, so both
    engines see the same counts bit-for-bit)."""
    return spread_input(df).select(
        F.col(id_col), words(text_col).alias("_t")
    ).select(
        id_col, F.explode(F.array_distinct(word_grams("_t", n, key=md5_bits))).alias("_gh")
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Sparck Jones; the classic
    probabilistic ranking function): top-k documents for a small term
    set. idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation with
    the usual k1/b length normalization.

    Determinism: per-term scores are quantized to 1e-6 integers BEFORE
    the per-doc sum (a double sum over terms is addition-order-dependent;
    a BIGINT sum is not), so the oracle replays the ranking bit-for-bit
    — same playbook as similarity.QUANT_SCALE. ln/round(6) parity with
    DuckDB is established by tf_idf_top_terms.

    Scale: term frequencies only materialize for the queried terms (the
    isin filter precedes the groupBy), so the (doc, term) table is
    O(docs x |query|), never vocabulary-sized; doc lengths come from a
    scan-side projection and join on the high-cardinality doc key. The
    global top-k is TakeOrdered — no global sort."""
    lens = df.select(
        F.col(id_col),
        F.size(words(text_col)).alias("dl"),
    )
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # the df_t rollup and the scoring join both read the token explode
    tf = shared(
        tokens(df, id_col, text_col)
        .filter(F.col("tok").isin(list(query_terms)))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df_t"))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (F.lit(1.0) - b + b * (F.col("dl") / avgdl))
    )
    term_q = F.floor(idf * tf_part * 1000000 + F.lit(0.5)).cast("bigint")
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), term_q.alias("q"))
        .groupBy(id_col)
        .agg(F.sum("q").alias("score_q"), F.count("*").alias("n_terms_hit"))
    )
    return (
        scored.select(
            id_col,
            (F.col("score_q").cast("double") / 1000000).alias("bm25"),
            F.col("score_q"),
            F.col("n_terms_hit"),
        )
        .orderBy(F.desc("score_q"), F.asc(id_col))
        .limit(top_k)
    )


def bigram_lm_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The trained add-one-smoothed bigram LM as STORED state: the
    per-gram quantized log-prob table (gram, q) with q = round_half_up
    (1e6 · ln((c(w1 w2) + 1) / (c(w1) + V))) — persisted and memoized
    by corpus-plan semantics (``state.stored``), the same lifecycle
    as the ANN index frames. An LM is trained ONCE and serves many
    scoring passes (familiarity scoring, perplexity bucketing, mixture
    gating); rebuilding vocab-sized counts per scoring run mis-models
    that lifecycle (the r12 verdict's LM-family item: the two LM
    entries each retrained the same model in-plan).

    Build shape: one corpus gram scan -> (gram, c2) counts, one token
    scan -> (w1, c1) counts, a vocab-volume join (c1 pinned broadcast —
    unigram vocab is strictly within the bigram table's own
    broadcastability) and a 1-row V cross. All counts reduce map-side;
    the stored table is distinct-bigram volume, ~0.1% of corpus
    bytes."""
    return stored(
        "text.lm",
        df,
        (id_col, text_col, "bigram_lm"),
        lambda: _train_bigram_lm(df, id_col, text_col),
    )


def _train_bigram_lm(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    grams = word_ngrams_all(df, id_col, text_col, 2)
    c2 = grams.groupBy("gram").agg(F.count("*").alias("c2"))
    c1 = tokens(df, id_col, text_col).groupBy("tok").agg(
        F.count("*").alias("c1")
    )
    vocab = c1.agg(F.count("*").alias("v"))
    lnp = F.log(
        (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
    )
    q = F.floor(lnp * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        c2.withColumn("w1", F.split(F.col("gram"), " ")[0])
        .join(F.broadcast(c1.withColumnRenamed("tok", "w1")), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("gram", q.alias("q"))
    )


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Bigram language-model familiarity score — the CCNet-style
    quality signal: train add-one-smoothed bigram counts on the corpus
    itself, then score every document by its average bigram log-prob
    ln((c(w1 w2) + 1) / (c(w1) + V)). Low scores flag text the corpus
    LM finds surprising (garbled/boilerplate/outlier docs).

    Determinism: each bigram's log-prob quantizes to a 1e-6 BIGINT
    before the per-doc sum (order-free); avg divides back in two fixed
    IEEE ops.

    Scale: the LM itself is the STORED ``bigram_lm_frame`` table
    (vocab volume, trained once, persisted + memoized), so a scoring
    run pays exactly ONE corpus gram scan + one broadcast join on the
    high-cardinality gram key, then one doc-keyed aggregation. No
    vocabulary ships to the driver (V is a 1-row broadcast inside the
    stored build).

    The per-doc score table is itself MATERIALIZED state in a curation
    pipeline (CCNet materializes per-doc perplexity before bucketing):
    the scoring entry builds it, the bucketing mart reads it — memoized
    next to the LM table it joins."""
    return stored(
        "text.lm",
        df,
        (id_col, text_col, "bigram_scores"),
        lambda: _score_bigram_lm(df, id_col, text_col),
    )


def _score_bigram_lm(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    qtable = bigram_lm_frame(df, id_col, text_col)
    grams = word_ngrams_all(df, id_col, text_col, 2)
    # qtable is distinct-gram volume — pin it as the broadcast build
    # side (the stat-less corpus gram frame misled AQE into
    # broadcasting the CORPUS grams at sf1, the same BuildLeft defect
    # the bpe vocab join hit — 9 s at sf1). For an open-vocabulary web
    # corpus whose bigram table outgrows broadcast, drop the hint and
    # take the two-sided gram-keyed shuffle join instead.
    return (
        grams.join(F.broadcast(qtable), "gram")
        .select(F.col(id_col), "q")
        .groupBy(id_col)
        .agg(F.sum("q").alias("sum_logprob_q"), F.count("*").alias("n_bigrams"))
        .select(
            id_col,
            "n_bigrams",
            "sum_logprob_q",
            (
                F.col("sum_logprob_q").cast("double")
                / 1000000
                / F.col("n_bigrams")
            ).alias("avg_logprob"),
        )
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str,
    eval_text_col: str,
    n: int = 8,
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents sharing any word
    n-gram with any benchmark/eval document — the standard
    membership-overlap check run before training (GPT-3-style n-gram
    collision scan).

    Shape: the (small) eval set's n-grams are pre-aggregated to
    (gram, n_eval_docs, min_eval_id) and broadcast; the corpus pays one
    scan + n-gram explode + broadcast join and is NEVER shuffled at full
    gram volume — the per-doc distinct and the hit rollup run only on
    grams that already matched the eval set (tiny by construction: if
    much of the corpus matched, you have bigger problems than shuffle
    cost). A hit scored against m eval docs counts m times, identical to
    joining the per-eval-doc gram list. Returns one row per CONTAMINATED
    document (id, n_gram_hits, first_eval_id); the caller anti-joins to
    drop them from the training mix."""
    eval_grams = word_ngrams(
        eval_df.select(F.col(eval_id_col).alias("eval_id"), F.col(eval_text_col)),
        "eval_id",
        eval_text_col,
        n,
    )
    eval_agg = eval_grams.groupBy("gram").agg(
        F.count("*").alias("_m"), F.min("eval_id").alias("_e")
    )
    matched = word_ngrams_all(df, id_col, text_col, n).join(
        F.broadcast(eval_agg), "gram"
    )
    return (
        matched.select(id_col, "gram", "_m", "_e")
        .distinct()  # per-doc dedup of matched grams only
        .groupBy(id_col)
        .agg(
            F.sum("_m").cast("long").alias("n_gram_hits"),
            F.min("_e").alias("first_eval_id"),
        )
    )


# (?i) is honored identically by Java regex (Spark) and RE2 (DuckDB), so
# mixed-case addresses ("Jane.Doe@Example.COM") are redacted by both engines
EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing — the redaction pass a corpus gets before training:
    emails and phone-shaped numbers replaced with typed placeholder
    tokens, with per-document match counts for audit. Both regexes are
    deliberately restricted to syntax Java regex (Spark) and RE2
    (DuckDB) treat identically — character classes, bounded repetition,
    no lookaround — so the oracle replays the scrub verbatim. Narrow
    codegen map: one scan, no shuffle, no Python."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("text_scrubbed"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Intra-document repetition signals (Gopher-style quality filters:
    'fraction of duplicate n-grams' and 'fraction taken by the most
    frequent n-gram') — catches boilerplate and degenerate generated
    text that inter-document dedup can't see.

    Per document over ALL word n-grams (not distinct):
      n_grams / n_distinct, dup_frac = 1 - distinct/total,
      top_gram_frac = max gram count / total.

    ONE shuffle of the raw documents (pre-explode, so the exchange
    carries doc bytes, not the ~2x-larger gram strings): hash
    partitioning on the doc id satisfies the clustering requirement of
    BOTH downstream aggregations ((doc, gram) and (doc)), so gram
    counting and the per-doc rollup run exchange-free after it.
    Everything stays JVM-side. Per-doc stats inherently co-locate each
    doc; a single pathological multi-GB document would skew its
    partition — cap document size upstream."""
    grams = df.repartition(id_col).select(
        F.col(id_col), words(text_col).alias("_t")
    ).select(id_col, F.explode(word_grams("_t", n)).alias("gram"))
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.count("*") / F.sum("c").cast("double"), 6
        ).alias("dup_frac"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_gram_frac"),
    )


def collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by PMI — the phrase-mining /
    tokenizer-merge-candidate primitive ("new york" scores high because
    its joint count dwarfs what its unigram frequencies predict).

    PMI = log(N * c_xy / (c_x * c_y)); log is monotone, so ranking and
    the emitted score use the exact RATIONAL ``pmi_ratio = c_xy * N /
    (c_x * c_y)`` instead — integer products and ONE double division,
    bit-identical in any engine (a log would drag in engine-specific
    transcendental rounding for zero analytical gain).

    Shape: adjacent-pair extraction is an in-row array transform (no
    self-join), bigram and unigram counts are map-side-combined grouped
    counts, the unigram side joins back twice on the word key, the
    token total rides in as a broadcast 1-row aggregate, and the global
    top-k is a distributed TakeOrdered with (ratio desc, w1, w2)
    deterministic tiebreaks. ``min_count`` prunes the long tail before
    the joins."""
    base = df.select(F.col(id_col), words(text_col).alias("_w"))
    uni = (
        base.select(F.explode("_w").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_toks"))
    bg = (
        base.filter(F.size("_w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_w) - 1),"
                    " i -> struct(element_at(_w, i) AS w1, element_at(_w, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_y"))
    ratio = (F.col("c_xy") * F.col("n_toks")).cast("double") / (
        F.col("c_x") * F.col("c_y")
    ).cast("double")
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c_xy", ratio.alias("pmi_ratio"))
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(top_k)
    )


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    salt: str = "qw0",
    weight_range: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """Linear quality classifier over hashed token features — the
    execution shape of a fastText-style quality filter (hash each token
    into a weight table, score = mean weight, threshold decides
    keep/drop), with DETERMINISTIC md5-derived integer weights standing
    in for trained ones (this container ships no model; swap
    ``_weight`` for a broadcast lookup of real weights and the plan is
    unchanged).

    Exactness: per-token weight is an INTEGER in [-weight_range,
    weight_range] (md5-derived), the document sum is an order-free
    bigint, and the logit is ONE double division of two exact integers
    — bit-identical in any engine (a float dot product would be
    summation-order-dependent and unverifiable cross-engine).

    Shape: one token explode + one doc-keyed aggregation (map-side
    combine collapses each doc's tokens before the exchange) + a narrow
    projection. No joins, no windows, no model I/O."""
    span = 2 * weight_range + 1
    toks = tokens(df, id_col, text_col).filter(F.col("tok") != "")
    wq = md5_bits("tok", 1, 8, salt) % span - weight_range
    scored = toks.withColumn("wq", wq).groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), F.sum("wq").alias("w_sum")
    )
    logit = F.col("w_sum").cast("double") / (
        F.col("n_tokens") * F.lit(weight_range)
    ).cast("double")
    return scored.select(
        id_col,
        "n_tokens",
        "w_sum",
        logit.alias("quality_logit"),
        (logit >= F.lit(float(threshold))).alias("keep"),
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Duplicated-span detection (exact-substring dedup, Lee et al.
    'Deduplicating Training Data Makes Language Models Better' at
    window granularity): hash fixed-size character windows sampled
    every ``stride`` chars; a window whose md5 appears in >=2 distinct
    documents is a duplicated span. Per doc: distinct-window count,
    duplicated-window count, and the duplicated fraction — the signal
    a 100 TB curation pass uses to CUT repeated boilerplate rather
    than drop whole near-dup docs.

    Shape: one explode (~len/stride rows per doc, window-hash payload
    only — the text itself never shuffles), a (doc, hash) distinct,
    then the per-hash doc count as ``count() OVER (PARTITION BY wh)``
    — a keyed window, NOT a count-aggregate + join back: the count
    table is distinct-window volume (~corpus/stride), so the join
    would either broadcast an unbounded side (the defect the bpe
    vocab join hit) or pay an extra wh shuffle of every window row.
    The window form gets n_docs onto each row inside the single wh
    exchange. Finishes with one doc-keyed agg. Window hashes are
    high-entropy md5 — every shuffle key is skew-free."""
    norm = normalize_text(text_col)
    wins = (
        spread_input(df).select(F.col(id_col), norm.alias("_t"))
        .select(
            id_col,
            F.explode(char_grams("_t", window, stride)).alias("win"),
        )
        .select(id_col, F.md5("win").alias("wh"))
        .distinct()
    )
    wh_win = Window.partitionBy("wh")
    return (
        wins.withColumn("n_docs", F.count("*").over(wh_win))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.count_if(F.col("n_docs") >= 2).alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
            ).alias("dup_fraction"),
        )
    )


def zipf_rank_stats(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    top_ranks: int = 100,
) -> DataFrame:
    """Zipf-law conformance per corpus slice, in EXACT integer
    arithmetic: under freq ∝ 1/rank the product freq*rank is constant
    across ranks, so the normalized mean absolute deviation of
    freq*rank over the top ``top_ranks`` terms measures how far a
    slice departs from Zipf — the standard smell test for synthetic /
    boilerplate-heavy sources (a log-log OLS slope needs ln(), whose
    last-ulp behavior is libm-specific; the product form keeps every
    intermediate an exact bigint, so the DuckDB oracle replays
    bit-for-bit).

    zipf_dev = (Σ_i |fr_i * n - Σ_j fr_j|) / (n * Σ_j fr_j), with
    fr_i = freq_i * rank_i — one double division of two exact bigints
    at the very end.

    Shape: token explode -> (slice, term) count -> per-slice top-R by
    a PARTITIONED row_number (ties broken by term — deterministic) ->
    one slice-keyed agg. The (slice, term) shuffle is the only wide
    exchange; term keys are high-cardinality."""
    toks = tokens(df, group_col, text_col).filter(F.col("tok") != "")
    freqs = toks.groupBy(group_col, "tok").agg(F.count("*").alias("freq"))
    w = Window.partitionBy(group_col).orderBy(F.desc("freq"), F.asc("tok"))
    # the totals agg and the deviation pass both read the slim ranked frame
    ranked = shared(
        freqs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_ranks)
        .withColumn("fr", F.col("freq") * F.col("rank"))
    )
    agg = ranked.groupBy(group_col).agg(
        F.count("*").alias("n_ranks"),
        F.max(F.when(F.col("rank") == 1, F.col("freq"))).alias("top_freq"),
        F.sum("fr").alias("sum_fr"),
    )
    dev = (
        ranked.join(F.broadcast(agg.select(group_col, "n_ranks", "sum_fr")), group_col)
        .groupBy(group_col)
        .agg(
            F.sum(
                F.abs(F.col("fr") * F.col("n_ranks") - F.col("sum_fr"))
            ).alias("abs_dev_scaled")
        )
    )
    return (
        agg.join(dev, group_col)
        .select(
            group_col,
            "n_ranks",
            "top_freq",
            "sum_fr",
            F.round(
                F.col("abs_dev_scaled").cast("double")
                / (F.col("n_ranks") * F.col("sum_fr")).cast("double"),
                6,
            ).alias("zipf_dev"),
        )
    )


def fertility_by_lang(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenizer-fertility profile grouped by PREDICTED language: how
    many whitespace tokens / BPE-ish subwords a slice yields per 100
    normalized chars — the metric that decides whether a tokenizer
    under-serves a language in the training mix. Composes language_id
    (stopword-vote argmax) with token_counts in one doc-keyed join,
    then a small lang-keyed agg; ratios are single double divisions of
    exact bigint sums (order-free, oracle-replayable)."""
    lid = language_id(df, id_col, text_col)
    tc = token_counts(df, id_col, text_col)
    per_doc = lid.join(tc, id_col)
    return (
        per_doc.groupBy("pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws_tokens").alias("sum_ws_tokens"),
            F.sum("n_bpe_ish_tokens").alias("sum_bpe_tokens"),
            F.sum("n_chars_norm").alias("sum_chars"),
        )
        .select(
            "pred_lang",
            "n_docs",
            "sum_ws_tokens",
            "sum_bpe_tokens",
            "sum_chars",
            F.round(
                F.col("sum_ws_tokens") * F.lit(100).cast("double") / F.col("sum_chars"),
                6,
            ).alias("ws_tokens_per_100_chars"),
            F.round(
                F.col("sum_bpe_tokens").cast("double") / F.col("sum_ws_tokens"), 6
            ).alias("bpe_per_ws_token"),
        )
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_size: int = 1024,
) -> DataFrame:
    """Materialize a BLOCK-PARTITIONED inverted index: for every term,
    the sorted posting list of documents containing it, split into
    doc-id blocks of ``block_size`` — the search-index build step.
    Blocking is the scale decision: an unblocked
    ``collect_list(doc_id)`` per term is unbounded state for stopword-
    grade terms (every doc in one array in one task); with blocks no
    array exceeds ``block_size`` entries and a term's postings spread
    across tasks. Serving intersects/unions per block and only touches
    the blocks a doc-id range query needs.

    Shape: token explode -> distinct (doc, term) -> one (term, block)
    aggregation; ``sort_array`` makes each array deterministic. The
    (term, block) key fans stopword postings across blocks, so the
    worst aggregation group is block_size rows — skew-capped by
    construction.

    The (doc, term) dedup is per-ROW (``array_distinct`` before the
    explode — a doc's term set is a pure function of its text, same
    r9 move as fuzzy_string_join's gram arrays), so the index build
    pays exactly ONE exchange: the (term, block) aggregation. Doc ids
    are assumed unique keys, as the oracle's DISTINCT also treats
    them."""
    toks = (
        spread_input(df)
        .select(
            F.col(id_col),
            F.array_distinct(words(text_col)).alias("_t"),
        )
        .select(id_col, F.explode("_t").alias("tok"))
        .filter(F.col("tok") != "")
    )
    return (
        toks.withColumn("block", F.expr(f"{id_col} div {block_size}"))
        .groupBy("tok", "block")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("postings"),
            F.count("*").alias("n_docs"),
        )
        .select("tok", "block", "n_docs", "postings")
    )


def lexical_drift(
    df: DataFrame,
    text_col: str,
    slice_col,
    top_k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Top-k drifting terms between two corpus slices by the 2×2
    chi-square statistic — the lexical drift gate run next to
    ``stats.ks_drift`` (numeric) and ``similarity.centroid_drift``
    (embedding) before a new snapshot joins the training mix: WHICH
    words does the new slice over/under-use?

    chi² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) over per-term token
    counts a (slice a), b (slice b) and complements c, d. The pivot
    (ad−bc) = a·n_b − b·n_a is an exact bigint (its square would
    overflow, so the SQUARING happens in double); every factor is an
    exact-int-cast double, so the IEEE expression is deterministic and
    the oracle replays it bit-for-bit.

    Shape: one token explode (``spread_input``-guarded) collapsing to
    the VOCAB-bounded per-term grid via map-side combine, a 1-row
    broadcast of the slice totals, and a distributed TakeOrdered for
    the global top-k (deterministic: score desc, term asc). No joins
    at corpus volume.

    ``slice_col``: boolean Column; False = a, True = b."""
    toks = tokens(
        df.select(slice_col.cast("boolean").alias("_sb"), text_col), "_sb", text_col
    ).filter(F.col("tok") != "")
    per = toks.groupBy("tok").agg(
        F.count_if(~F.col("_sb")).alias("n_a"),
        F.count_if(F.col("_sb")).alias("n_b"),
    ).filter(F.col("n_a") + F.col("n_b") >= min_count)
    totals = toks.agg(
        F.count_if(~F.col("_sb")).alias("_ta"), F.count_if(F.col("_sb")).alias("_tb")
    )
    j = per.join(F.broadcast(totals))
    pivot = F.col("n_a") * F.col("_tb") - F.col("n_b") * F.col("_ta")
    nd = (F.col("_ta") + F.col("_tb")).cast("double")
    row = (F.col("n_a") + F.col("n_b")).cast("double")
    rowc = (
        (F.col("_ta") - F.col("n_a")) + (F.col("_tb") - F.col("n_b"))
    ).cast("double")
    chi2 = F.round(
        nd
        * pivot.cast("double")
        * pivot.cast("double")
        / (row * rowc * F.col("_ta").cast("double") * F.col("_tb").cast("double")),
        6,
    )
    return (
        j.select(
            "tok",
            "n_a",
            "n_b",
            F.when(pivot >= 0, F.lit("a")).otherwise(F.lit("b")).alias("enriched_in"),
            chi2.alias("chi2"),
        )
        .orderBy(F.desc("chi2"), "tok")
        .limit(top_k)
    )


def perplexity_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """CCNet-style head/middle/tail familiarity bucketing (Wenzek et
    al. 2020): score every document with the corpus bigram LM
    (``bigram_lm_scores``), then split the corpus into terciles of the
    score distribution — 'head' = most familiar (highest avg log-prob),
    'tail' = most surprising. CCNet keeps head+middle and drops or
    down-weights tail; the bucket column is the standard mixture knob.

    Exactness: the per-doc score collapses to ``score_q =
    sum_logprob_q div n_bigrams`` — an exact bigint (Spark ``div`` and
    DuckDB ``//`` both truncate toward zero, including for these
    negative log-prob sums). Tercile assignment is the exact integer
    rule ``least(2, (3·e) div N)`` where e is the doc's score-grid row
    EXCLUSIVE prefix count — ties share a grid row and therefore a
    bucket, so the split is deterministic and engine-identical.

    Shape: the LM scoring plan (see ``bigram_lm_scores``), then the
    corpus collapses to its distinct-score grid (groupBy, map-side
    combined), the two-pass ``ordered_prefix_sums`` (no global
    window), a 1-row total broadcast, and the grid broadcasts back
    onto the scored docs. The grid is bounded by distinct quantized
    scores, not the corpus; if an open-web corpus pushes it past
    broadcast size, coarsen the quantization (score_q div Q) or swap
    the final join to a range-partitioned sort-merge — the rule is
    unchanged."""
    from .stats import ordered_prefix_sums

    # bigram_lm_scores returns the memoized persisted score table —
    # both consumers below (the grid groupBy and the final join) read
    # the cache, so sharing it would only copy already-materialized blocks
    scored = bigram_lm_scores(df, id_col, text_col).select(
        id_col,
        "n_bigrams",
        F.expr("sum_logprob_q div n_bigrams").alias("score_q"),
    )
    g = scored.groupBy("score_q").agg(F.count("*").alias("_c"))
    g = ordered_prefix_sums(g, "score_q", ["_c"])
    total = g.agg(F.sum("_c").alias("_n"))
    grid = (
        g.join(F.broadcast(total))
        .select(
            "score_q",
            F.expr("least(2L, (3 * (cum__c - _c)) div _n)").alias("_b"),
        )
    )
    label = (
        F.when(F.col("_b") == 0, F.lit("tail"))
        .when(F.col("_b") == 1, F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return scored.join(F.broadcast(grid), "score_q").select(
        id_col, "n_bigrams", "score_q", label.alias("ppl_bucket")
    )


def boilerplate_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    n: int = 5,
    min_share_ppm: int = 100_000,
    top_k: int = 10,
) -> DataFrame:
    """Per-source boilerplate TEMPLATE detector — the cross-document
    companion to ``repetition_stats`` (intra-doc) and
    ``substring_dup_spans`` (pairwise): a word n-gram appearing in a
    large fraction of one source's documents is site furniture (nav,
    cookie banners, footers), and this list is exactly the removal
    target a CCNet-style cleaning pass feeds on. Deduplication does not
    catch it — the documents differ; only the furniture repeats.

    Output: the ``top_k`` grams per source with document frequency >=
    ``min_share_ppm`` parts-per-million of that source's docs —
    (source, gram, n_docs, source_docs, share_ppm), share as an exact
    integer ``(df·10⁶) div total`` so both engines rank identically;
    ties break on the gram string.

    Shape: one spread-guarded distinct gram explode carrying the source
    inside the explode key (no corpus-sized join-back), a (source,
    gram)-keyed count (map-side combined), a broadcast of the tiny
    per-source totals, and a WindowGroupLimit top-k per source. Gram
    state is vocabulary-bounded, never corpus-bounded."""
    from pyspark.sql import Window

    keyed = df.select(
        F.struct(
            F.col(id_col).alias("_id"), F.col(source_col).alias("_src")
        ).alias("_k"),
        text_col,
    )
    grams = word_ngrams(keyed, "_k", text_col, n).select(
        F.col("_k._src").alias("source"), "gram"
    )
    per = grams.groupBy("source", "gram").agg(F.count("*").alias("n_docs"))
    totals = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("source_docs")
    )
    scored = (
        per.join(F.broadcast(totals), "source")
        .withColumn(
            "share_ppm",
            F.expr("(n_docs * 1000000) div source_docs"),
        )
        .filter(F.col("share_ppm") >= min_share_ppm)
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), F.asc("gram")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("source", "gram", "n_docs", "source_docs", "share_ppm", "rank")
    )
