"""Deduplication operators for 100 TB-scale corpora (SURVEY §7.6).

Four tiers, DataFrame ops plus vectorized Arrow kernels (no row-at-a-time
Python UDFs); every hash is one DuckDB replays (md5 and plain integer
arithmetic), so the oracle verifies each tier bit-for-bit:

- exact          : md5 over normalized content, groupBy hash — one shuffle.
- MinHash + LSH  : shingle -> n Carter-Wegman minima of an md5 prefix ->
  band -> bucket join. Candidate generation is linear-ish (explode by
  bands, self-join per bucket); only candidates pay the verification cost.
- SimHash        : 60-bit sign-aggregated md5 token hashes; near-dups
  share fingerprints at small Hamming distance.
- n-gram Jaccard : exact set overlap for candidate verification.

Scale notes: shingling multiplies rows by ~|text|; the LSH band join is
the only shuffle whose key cardinality matters — bucket hashes are high-
entropy so skew is bounded. Dedup at 100 TB = exact pass first (cheap,
removes the bulk), then MinHash-LSH on the survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# release_persisted stays importable from this module for existing callers
from ..state import persist, release_persisted, shared, stored  # noqa: F401
from .sampling import md5_bits


def spread_input(df: DataFrame) -> DataFrame:
    """Pre-explode parallelism guard. A scan's split count comes from
    input BYTES (``maxPartitionBytes``), but explode-heavy operators
    multiply rows 50-100x — so a byte-compact input (one small parquet
    file; the r5 finding: the whole sf0.1 documents table is a single
    128 MB-rule split, serializing every shingle/token expansion on ONE
    core and leaving its wall time at the mercy of single-core load)
    must be spread BEFORE the explode. Repartitions to the cluster's
    default parallelism only when the input is clearly under-split
    (< 1/4 of cores); on production inputs with thousands of splits
    this is a no-op and costs no shuffle. The shuffle it does add moves
    raw doc bytes — strictly smaller than the exploded stream every
    operator here produces."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# The text contract: normalization, tokens and the word / character
# window rules, each written once per engine — a Spark Column helper
# and its DuckDB SQL twin side by side (the md5-prefix key is
# ``sampling.md5_bits``). Every text operator and oracle calls these;
# tests/test_text_contract.py fails on a second copy and checks that
# both forms agree on whitespace, empty and NULL edge cases.
# ---------------------------------------------------------------------------

# the whitespace a normalizer collapses, spelled out: ``\s`` includes
# \x0B in Java regex but not in RE2, so "a\x0Bb" normalized to "a b"
# in Spark and stayed "a\x0Bb" in DuckDB
_WHITESPACE = r"[\t\n\x0B\f\r ]+"


def _col(c) -> F.Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c) -> F.Column:
    """Canonical text form: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), _WHITESPACE, " "))


def normalize_sql(expr: str) -> str:
    """DuckDB form of ``normalize_text``. Its trim names the space: a bare
    DuckDB trim also strips a no-break space, which Spark's keeps."""
    return f"trim(regexp_replace(lower({expr}), '{_WHITESPACE}', ' ', 'g'), ' ')"


def words(c) -> F.Column:
    """Tokens: the normalized text split on its single spaces (an empty
    text is one empty token, a NULL text a NULL array)."""
    return F.split(normalize_text(c), " ")


def words_sql(expr: str) -> str:
    """DuckDB form of ``words``."""
    return f"string_split({normalize_sql(expr)}, ' ')"


def _starts(n_items: F.Column, back: int, stride: int) -> F.Column:
    step = [F.lit(stride)] if stride != 1 else []
    return F.sequence(F.lit(1), F.greatest(n_items - F.lit(back), F.lit(1)), *step)


def _starts_sql(n_items: str, back: int, stride: int) -> str:
    step = f", {stride}" if stride != 1 else ""
    return f"generate_series(1, greatest({n_items} - {back}, 1){step})"


def word_starts(toks, n: int, stride: int = 1) -> F.Column:
    """1-based starts of the ``n``-token windows over the token array
    ``toks``: 1, 1 + stride, ... up to greatest(size - n + stride, 1).
    Stride 1 gives every n-gram; a wider stride gives chunks whose last
    one reaches the array's end. An array shorter than ``n`` (or NULL)
    has one window."""
    return _starts(F.size(_col(toks)), n - stride, stride)


def word_starts_sql(toks: str, n: int, stride: int = 1) -> str:
    """DuckDB form of ``word_starts``."""
    return _starts_sql(f"len({toks})", n - stride, stride)


def word_grams(toks, n: int, key=None, stride: int = 1) -> F.Column:
    """The word ``n``-grams of the token array ``toks`` as one array,
    one per ``word_starts(toks, n, stride)``: each window's tokens
    joined by single spaces, or ``key`` of that string when given (a
    NULL array gives one empty gram)."""
    t = _col(toks)
    key = key or (lambda g: g)
    return F.transform(
        word_starts(t, n, stride), lambda i: key(F.concat_ws(" ", F.slice(t, i, n)))
    )


def word_grams_sql(toks: str, n: int, key=None, stride: int = 1) -> str:
    """DuckDB form of ``word_grams``; ``key`` maps the gram's SQL."""
    # coalesce: Spark's concat_ws of a NULL slice is the empty string
    gram = f"coalesce(array_to_string(list_slice({toks}, i, i + {n - 1}), ' '), '')"
    starts = word_starts_sql(toks, n, stride)
    return f"list_transform({starts}, i -> {key(gram) if key else gram})"


def char_grams(t, n: int, stride: int = 1) -> F.Column:
    """The ``n``-character windows of the text ``t`` starting at 1,
    1 + stride, ... up to greatest(length - n + 1, 1), as one array:
    every whole window (sampled every ``stride`` characters), or the
    whole text when it is shorter than ``n``. Code-point positions in
    both engines; a NULL text gives one NULL window."""
    c = _col(t)
    return F.transform(
        _starts(F.length(c), n - 1, stride), lambda i: F.substring(c, i, n)
    )


def char_grams_sql(t: str, n: int, stride: int = 1) -> str:
    """DuckDB form of ``char_grams``."""
    starts = _starts_sql(f"length({t})", n - 1, stride)
    return f"list_transform({starts}, i -> substr({t}, i, {n}))"


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized content: every row keyed by content hash,
    winner = min id per group; ``is_duplicate`` marks losers."""
    h = df.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("content_hash")
    )
    winners = h.groupBy("content_hash").agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("group_size")
    )
    return h.join(winners, "content_hash").select(
        id_col,
        "content_hash",
        "keep_id",
        "group_size",
        (F.col(id_col) != F.col("keep_id")).alias("is_duplicate"),
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, distinct: bool = True
) -> DataFrame:
    """Character k-shingles per document, engine-side (``char_grams``
    of the normalized text).

    ``distinct=True`` (the set semantics SimHash bit-counting and
    n-gram Jaccard need) costs a full (id, shingle) shuffle — the
    widest exchange in any dedup plan. MinHash callers pass
    ``distinct=False``: min over a multiset equals min over its set,
    so the signature aggregation's map-side combine sees the raw
    explode and the only shuffled rows are one partial 64-min state
    per (doc, partition) — bit-identical results, one exchange of
    shingle-volume data removed."""
    norm = normalize_text(text_col)
    out = spread_input(df).select(F.col(id_col), norm.alias("_t")).select(
        id_col,
        F.explode(char_grams("_t", k)).alias("shingle"),
    )
    return out.distinct() if distinct else out


_TOKEN_BLOCK = 65536  # tokens/shingles per numpy block in the in-row kernels


def _require_unique_ids(ids, id_col: str) -> None:
    """The in-row kernels emit one row per input row; a shared id would
    give that id several fingerprints or signatures."""
    if ids.duplicated().any():
        raise ValueError(
            f"in-row kernel: duplicate {id_col} values in one batch "
            f"(e.g. {ids[ids.duplicated()].iloc[0]!r}); ids must be unique "
            "per row"
        )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash over whitespace tokens: per bit, sum +1/-1 by the token
    hash's bit value; fingerprint bit = sign of the sum. A token's hash
    is the first 15 hex chars of its md5 (<=60 bits, so no sign-bit
    overflow) — portable across engines, so the fingerprint is
    oracle-verifiable.

    A doc's fingerprint is a pure function of its own token multiset, so
    it is computed in one Arrow kernel (r14, guide §4.2): no token
    explode, no (id)-keyed exchange, and no ``bits``-field sign-sum
    aggregate (>100 output fields fall out of whole-stage codegen — the
    r13 maxFields lesson). md5 runs in C (hashlib) and the ±1 bit sums
    in numpy int64 (exact); ``tests/test_inrow_kernels.py`` pins the
    kernel bit-for-bit to that explode + aggregate form, which is what
    the DuckDB oracle replays.

    Normalization stays engine-side; Python splits on the literal space
    the normalizer guarantees (both engines keep the empty token of an
    empty text — ``split`` with limit -1 and ``str.split(' ')`` agree);
    a null text emits no row, as explode-of-null does. Per-bit counts
    accumulate over ``_TOKEN_BLOCK``-token blocks, so a document's
    working matrix is bounded. Requires ``id_col`` unique per row (every
    document table): raises on a duplicate id within one Arrow batch;
    duplicates in different batches are not detected."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if bits > 60:
        raise ValueError("simhash: bits must be <= 60 (15 hex chars of md5)")
    shifts = np.arange(bits, dtype=np.int64)[None, :]
    weights = (np.int64(1) << shifts.ravel()).astype(np.int64)
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )
    src = spread_input(df).select(
        F.col(id_col).alias("_id"), normalize_text(text_col).alias("_t")
    )

    def kernel(batches):
        from hashlib import md5

        for pdf in batches:
            _require_unique_ids(pdf["_id"], id_col)
            ids, fps = [], []
            for id_, t in zip(pdf["_id"], pdf["_t"]):
                if t is None:
                    continue
                th = np.fromiter(
                    (
                        int(md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                        for tok in t.split(" ")
                    ),
                    dtype=np.int64,
                )
                # ±1 sums per bit: sum over tokens of (2*bit - 1)
                ones = np.zeros(bits, dtype=np.int64)
                for s in range(0, th.size, _TOKEN_BLOCK):
                    ones += ((th[s : s + _TOKEN_BLOCK, None] >> shifts) & 1).sum(axis=0)
                pos = 2 * ones > th.size  # sum(+1/-1) > 0
                fps.append(int((weights * pos).sum()))
                ids.append(id_)
            if ids:  # an empty frame's column dtypes defeat Arrow's cast
                yield pd.DataFrame({id_col: ids, "simhash": fps})

    return src.mapInPandas(kernel, schema)


PORTABLE_PRIME = 2147483647  # 2^31 - 1


def portable_hash_params(i: int) -> tuple[int, int]:
    """Deterministic Carter-Wegman multiply-add constants for hash i —
    plain integer arithmetic, identical in any engine."""
    a = (i * 2654435761 + 1) % PORTABLE_PRIME
    b = (i * 40503 + 7) % PORTABLE_PRIME
    return a, b


def portable_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
    distinct: bool = False,
) -> DataFrame:
    """(id, sig) engine-portable MinHash signatures: shingle -> 28-bit
    md5 prefix x, h_i = (a_i*x + b_i) mod (2^31-1) (products stay <
    2^59 — no 64-bit overflow in engines that error on it). Both forms
    below avoid the n_hashes-min aggregate, which has >100 output fields,
    falls out of whole-stage codegen (the r13 maxFields lesson) and ran
    INTERPRETED; ``tests/test_inrow_kernels.py`` pins each bit-for-bit
    to that explode + wide-min aggregate, which the DuckDB oracle
    replays.

    ``distinct=False`` (per-DOC signatures): a signature is a pure
    function of one row, so one Arrow kernel computes it (r14, guide
    §4.2) — shingle in Python, md5 in C (hashlib), the minima as a
    vectorized numpy (A·x + B) % P reduction — with no shingle explode
    and no (id)-keyed exchange. Requires ``id_col`` unique per row
    (every document table); the kernel raises on a duplicate within one
    Arrow batch.

    ``distinct=True`` (GROUP-level signatures, ``dataset_overlap``: the
    key is one of a handful of slices): min is multiset-invariant, so
    deduping (slice, shingle) BEFORE the md5 gives the same minima; the
    distinct set is VOCAB-bounded, its exchange is map-side-combined,
    and the md5 + n_hashes·mulmod work runs once per distinct pair
    instead of once per occurrence — measured 38x fewer hashed rows at
    sf1 (14.7M -> 388k). Per-doc callers must not pass it: a (doc,
    shingle) distinct is a corpus-sized exchange, the widest in any
    dedup plan."""
    if not distinct:
        return _portable_signatures_in_row(df, id_col, text_col, k, n_hashes)
    sh = shingles(df, id_col, text_col, k, distinct=True).withColumn(
        "x", md5_bits("shingle", 1, 7)
    )
    return _portable_sig_group_minima(sh, id_col, n_hashes)


def _portable_sig_group_minima(
    sh: DataFrame, id_col: str, n_hashes: int
) -> DataFrame:
    """Arrow segmented-min for the GROUP-keyed portable signature: an
    Arrow kernel computes per-(task-batch, group) partial minima in
    vectorized int64 (exact — same mul-mod lattice), and the wide min
    aggregate then merges only (batches × groups) partial rows instead
    of the vocab-sized stream. Input: (id_col, x) rows (x may be null —
    a null shingle hashes to null and min ignores it; a group with only
    nulls keeps an all-null sig). Output: (id_col, sig).

    The kernel works on Arrow arrays, not pandas: pandas turns a
    nullable int64 key into float64, which merges distinct keys above
    2^53. Keys are dictionary-encoded with null as its own entry, so
    the group key reaches the output unchanged whatever its type."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    A = np.array(
        [portable_hash_params(i)[0] for i in range(n_hashes)], dtype=np.int64
    )[:, None]
    B = np.array(
        [portable_hash_params(i)[1] for i in range(n_hashes)], dtype=np.int64
    )[:, None]
    part_schema = T.StructType(
        [
            T.StructField("_g", sh.schema[id_col].dataType),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    src = sh.select(F.col(id_col).alias("_g"), "x")

    def kernel(batches):
        none = np.iinfo(np.int64).max  # above every hash (< 2^31): "no value"
        for rb in batches:
            if rb.num_rows == 0:
                continue
            enc = pc.dictionary_encode(rb.column(0), null_encoding="encode")
            codes = enc.indices.to_numpy(zero_copy_only=False)
            x = rb.column(1)
            valid = x.is_valid().to_numpy(zero_copy_only=False)
            xv = x.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            order = np.argsort(codes, kind="stable")
            sig = np.full((len(enc.dictionary), n_hashes), none, dtype=np.int64)
            for s in range(0, len(order), _TOKEN_BLOCK):
                idx = order[s : s + _TOKEN_BLOCK]
                block = (A * xv[idx][None, :] + B) % PORTABLE_PRIME
                block[:, ~valid[idx]] = none
                cs = codes[idx]
                starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
                g = cs[starts]  # sorted, so each group once per block
                sig[g] = np.minimum(sig[g], np.minimum.reduceat(block, starts, axis=1).T)
            flat = sig.ravel()
            offsets = np.arange(0, flat.size + 1, n_hashes, dtype=np.int32)
            sigs = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(flat, mask=flat == none)
            )
            yield pa.RecordBatch.from_arrays([enc.dictionary, sigs], ["_g", "sig"])

    partial = src.mapInArrow(kernel, part_schema)
    merged = partial.groupBy("_g").agg(
        *[
            F.min(F.element_at("sig", i + 1)).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    )
    return merged.select(
        F.col("_g").alias(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("sig"),
    )


def _portable_signatures_in_row(
    df: DataFrame, id_col: str, text_col: str, k: int, n_hashes: int
) -> DataFrame:
    """Per-doc Arrow kernel of ``portable_signatures`` (see its
    ``distinct=False`` doc): normalization stays engine-side (Java and Python
    regex whitespace classes differ — only the literal-space split
    happens in Python), a null text yields an all-NULL signature row
    (as in the aggregate form, where ``greatest(length(null)-k+1,1)``
    resurrects one null shingle whose minima are all null), and shingle
    slicing is code-point slicing in both engines. Raises on a duplicate
    id within one Arrow batch, like ``simhash``; duplicates in
    different batches are not detected."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    A = np.array(
        [portable_hash_params(i)[0] for i in range(n_hashes)], dtype=np.int64
    )[:, None]
    B = np.array(
        [portable_hash_params(i)[1] for i in range(n_hashes)], dtype=np.int64
    )[:, None]
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    src = spread_input(df).select(
        F.col(id_col).alias("_id"), normalize_text(text_col).alias("_t")
    )

    def kernel(batches):
        from hashlib import md5

        int64_max = np.iinfo(np.int64).max
        for pdf in batches:
            _require_unique_ids(pdf["_id"], id_col)
            ids, sigs = [], []
            for id_, t in zip(pdf["_id"], pdf["_t"]):
                if t is None:
                    # the agg form keeps one null shingle -> all-null mins
                    ids.append(id_)
                    sigs.append([None] * n_hashes)
                    continue
                n_sh = max(len(t) - k + 1, 1)
                xs = np.fromiter(
                    (
                        int(md5(t[i : i + k].encode("utf-8")).hexdigest()[:7], 16)
                        for i in range(n_sh)
                    ),
                    dtype=np.int64,
                    count=n_sh,
                )
                sig = np.full(n_hashes, int64_max)
                for s in range(0, n_sh, _TOKEN_BLOCK):  # bound the (64, n_sh) block
                    block = (A * xs[s : s + _TOKEN_BLOCK][None, :] + B) % PORTABLE_PRIME
                    np.minimum(sig, block.min(axis=1), out=sig)
                ids.append(id_)
                sigs.append(sig)
            if ids:  # an empty frame's column dtypes defeat Arrow's cast
                yield pd.DataFrame(
                    {id_col: ids, "sig": pd.Series(sigs, dtype=object)}
                )

    return src.mapInPandas(kernel, schema)


def portable_bands(
    sigs: DataFrame, id_col: str, bands: int = 16, n_hashes: int = 64
) -> DataFrame:
    """(id, band, bkey) band keys: md5 of the '|'-joined signature
    slice — together with ``portable_signatures`` these two tables ARE
    the persisted near-dup index (signatures ~0.1% of corpus size; band
    rows are ids + 32-char keys). New batches append; see
    ``minhash_lsh_dedup_incremental``."""
    rows_per_band = n_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.expr(
                        f"transform(slice(sig, {b * rows_per_band + 1}, {rows_per_band}),"
                        " v -> cast(v as string))"
                    ),
                )
            ).alias("bkey"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bkey")


def _verify_pairs(
    pairs: DataFrame, sigs: DataFrame, id_col: str, n_hashes: int, threshold: float
) -> DataFrame:
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))"
    ) / F.lit(float(n_hashes))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_dedup_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """Engine-portable MinHash+LSH near-dup pairs (full-corpus pass).

    Every hash is derivable in plain SQL, so a DuckDB oracle replays the
    pipeline exactly. Use ``minhash_lsh_dedup_incremental`` when an
    index already exists."""
    sigs = persist(portable_signatures(df, id_col, text_col, k, n_hashes))
    banded = portable_bands(sigs, id_col, bands, n_hashes)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bkey")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(pairs, sigs, id_col, n_hashes, threshold)


# Memoized stored near-dup DECISION tables (state.stored — the
# stored-table lifecycle shared with the ANN index frames / bigram LM /
# BPE merges):
# in a curation warehouse the verified LSH pair list and the cluster
# map are MATERIALIZED tables — a keep/drop decision is written once
# and read by every downstream consumer: cluster formation, canonical
# selection, leakage-safe splitting.  Rebuilding the shingle -> signature ->
# band -> verify chain per consumer is the m2-recomputes-m1
# anti-pattern at corpus scale — measured r13 at sf0.1: the
# (4,32,8,.5) chain was built independently by FOUR suite entries
# (x_dedup_minhash_lsh, x_dedup_clusters, x_leakage_safe_split,
# x_dedup_canonical), and the CC contraction on its pairs ran three
# more times on top.


def minhash_pairs_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """``minhash_lsh_dedup_portable`` as STORED state: persisted and
    memoized by corpus-plan semantics + parameters, so every consumer
    of the same corpus/parameter near-dup pass reads one materialized
    pair table instead of re-running the full LSH chain."""
    return stored(
        "dedup.pairs",
        df,
        (id_col, text_col, k, n_hashes, bands, threshold, "portable_pairs"),
        lambda: minhash_lsh_dedup_portable(
            df, id_col, text_col, k, n_hashes, bands, threshold
        ),
    )


def portable_index_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The persisted MinHash index pair-of-tables (sigs, bands) as
    memoized STORED state — what ``minhash_lsh_dedup_incremental``
    probes a new batch against.  The incremental dedup entry point and
    any other index consumer over the same corpus plan read ONE build
    of the signature aggregation instead of re-running the shingle
    explode + 64-min pass per invocation."""
    sigs = stored(
        "dedup.index",
        df,
        (id_col, text_col, k, n_hashes, "index_sigs"),
        lambda: portable_signatures(df, id_col, text_col, k, n_hashes),
    )
    bnd = stored(
        "dedup.index",
        df,
        (id_col, text_col, k, n_hashes, bands, "index_bands"),
        lambda: portable_bands(sigs, id_col, bands, n_hashes),
    )
    return sigs, bnd


def dedup_clusters_frame(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """``dedup_clusters`` as STORED state: persisted and memoized by the
    PAIR frame's plan semantics.  The cluster map is the canonical
    dedup decision table — the thing a curation pipeline materializes
    and every consumer (canonical pick, split grouping, audits) joins
    against; contracting the same pair graph once per consumer repeats
    O(log n) shuffle rounds for an identical fixpoint.  Memo hits are
    guaranteed when ``pairs`` comes from ``minhash_pairs_frame`` (the
    same DataFrame object); a transient pair plan with embedded
    checkpoint scans simply never matches and ages out of the LRU."""
    return stored(
        "dedup.clusters",
        pairs,
        (max_iterations, "cc_clusters"),
        lambda: dedup_clusters(pairs, max_iterations),
    )


def minhash_lsh_dedup_incremental(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental near-dup: dedup a NEW batch against a persisted index
    without touching the already-deduped corpus — the 100 TB operating
    mode (re-running the full pass per batch is O(corpus) every time;
    this is O(batch) + one index join).

    Returns ``(pairs, new_sigs, new_bands)``: near-dup pairs where id_a
    is a new document (matched against the index AND against other new
    docs), plus the rows to APPEND to the two index tables. The band
    join touches only index rows whose (band, bkey) collides with the
    batch — with a bucketed/partitioned index layout that is an
    index-lookup, not a scan (proven by
    tests/test_bucketing.test_incremental_dedup_index_as_bucketed_table:
    index bands stored bucketBy(band, bkey) join with zero exchanges on
    the stored side — only the new batch shuffles into the bucket
    layout)."""
    new_sigs = persist(portable_signatures(new_docs, id_col, text_col, k, n_hashes))
    new_bands = portable_bands(new_sigs, id_col, bands, n_hashes)
    all_sigs = new_sigs.unionByName(index_sigs)
    nb = new_bands.select(F.col(id_col).alias("id_a"), "band", "bkey")
    other = new_bands.select(
        F.col(id_col).alias("id_b"), "band", "bkey", F.lit(True).alias("b_is_new")
    ).unionByName(
        index_bands.select(
            F.col(id_col).alias("id_b"), "band", "bkey", F.lit(False).alias("b_is_new")
        )
    )
    pairs = (
        nb.join(other, ["band", "bkey"])
        # vs the index: keep as (new, index) in either id order; vs other
        # new docs: canonical id_a < id_b drops the mirrored duplicate
        .filter(~F.col("b_is_new") | (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(pairs, all_sigs, id_col, n_hashes, threshold), new_sigs, new_bands


def ngram_jaccard(
    df: DataFrame, id_col: str, text_col: str, pairs: DataFrame, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) candidate pairs:
    |A ∩ B| via a gram-level join, |A ∪ B| = |A| + |B| - |A ∩ B|.

    Only docs that actually APPEAR in ``pairs`` are shingled: a semi
    join on the pair-member id set runs before the gram explode, so the
    distinct-gram volume scales with the audited pairs, not the corpus
    (for a verification/audit workload the members are a sliver of the
    corpus — sf1 precision audit: 10.0 s → 3.7 s). When pairs cover
    everything the semi join is a no-op pass-through.

    r14 shape (guide §2.4; the r13 plan-size lesson): ``pairs`` is
    referenced three times (intersection probe, member set, final left
    join) and the member gram table three times (two join sides +
    sizes) — unshared, the physical plan rebuilt the full
    pairs→members→semi-join→explode→DISTINCT chain per reference (205
    operators, 8 duplicated aggregates). Both subtrees are now
    ``shared`` (construction stays in the timed region), the per-doc
    distinct gram set is built IN-ROW (``array_distinct`` over the shingle transform —
    the CLAUDE.md house rule; the old form paid a shuffle-DISTINCT of
    the exploded gram stream), and set sizes ride along as ``size()``
    instead of a grouped count. Plan: 205 operators / 88 exchange
    mentions → 39 / 7. Requires ``id_col`` unique per row (a document
    table): the in-row distinct is per ROW, where the old
    shuffle-DISTINCT would have merged duplicate ids."""
    pairs = shared(pairs.select("id_a", "id_b"))
    members = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    norm = normalize_text(text_col)
    arrs = shared(
        spread_input(df.join(members, id_col, "left_semi"))
        .select(F.col(id_col), norm.alias("_t"))
        .select(
            id_col,
            F.array_distinct(char_grams("_t", n)).alias("_grams"),
        )
    )
    sizes = arrs.select(id_col, F.size("_grams").alias("n_grams"))
    ga = arrs.select(F.col(id_col).alias("id_a"), F.explode("_grams").alias("gram"))
    gb = arrs.select(F.col(id_col).alias("id_b"), F.explode("_grams").alias("gram"))
    # shuffle_hash pin on the corpus-gram side: the gram explode's size
    # estimate derives from the pre-explode scan bytes, and the unpinned
    # sf1 plan was observed BROADCASTING the (id_b, gram) corpus frame —
    # the mid-scale driver-OOM shape (see containment_pairs). The PAIRS
    # side staying broadcastable is fine and stays the planner's call.
    inter = (
        pairs.join(ga, "id_a")
        .join(gb.hint("shuffle_hash"), ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.coalesce("n_inter", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def cc_oracle_ctes(pairs_cte: str = "pairs", rounds: int = 8) -> str:
    """DuckDB CTE chain computing connected components over a CTE named
    ``pairs_cte`` (columns id_a, id_b) — ends in ``clusters``
    (member_id, cluster_id = smallest reachable id), the oracle twin of
    ``dedup_clusters``.

    This REPLACES the r2-r9 recursive-CTE transitive closure, which was
    structurally infeasible at sf1: label propagation along edges
    accumulates (node x every-smaller-reachable-label) state — Σm² over
    clusters (135M rows on the r10 sf1 corpus, max cluster 4,047) — and
    each semi-naive round joins the whole frontier against the edge
    list BEFORE dedup (frontier x avg-degree ~ billions of rows), which
    exhausted DuckDB's 40GiB spill cap. The unrolled form keeps state
    LINEAR (one label per node) and runs ``rounds`` hook+compress
    steps: hook = label := min(label, min over in-neighbors' labels)
    (one E-sized join + N-group agg), compress = label := label(label)
    (one N-sized self-join) — the SQL transliteration of the same
    pointer-doubling idea the Spark side's large-star/small-star uses.

    Exactness does not rest on the round count: a HOOK FIXPOINT is
    provably the exact component minimum (at a fixpoint every edge has
    label(u) == label(v), so labels are constant per component and the
    min node's own label is itself), and the chain ends with one extra
    hook whose output must equal round ``rounds`` — any drift calls
    error(), the house convergence rule (raise, never silently
    truncate). Compress only accelerates: covered distance-to-min
    grows ~2^t, so 8 rounds handle diameter ≥ 500."""
    parts = [
        f"""edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM {pairs_cte}
      UNION
      SELECT id_b AS src, id_a AS dst FROM {pairs_cte}),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for t in range(rounds):
        parts.append(
            f"""h{t} AS MATERIALIZED (
      SELECT l.node, least(l.label, coalesce(m.nl, l.label)) AS label
      FROM l{t} l LEFT JOIN (
        SELECT e.src AS node, min(r.label) AS nl
        FROM edges e JOIN l{t} r ON r.node = e.dst
        GROUP BY 1) m ON m.node = l.node),
    l{t + 1} AS MATERIALIZED (
      SELECT h.node, r.label
      FROM h{t} h JOIN h{t} r ON r.node = h.label)"""
        )
    parts.append(
        f"""hchk AS MATERIALIZED (
      SELECT l.node, least(l.label, coalesce(m.nl, l.label)) AS label
      FROM l{rounds} l LEFT JOIN (
        SELECT e.src AS node, min(r.label) AS nl
        FROM edges e JOIN l{rounds} r ON r.node = e.dst
        GROUP BY 1) m ON m.node = l.node),
    ccdiff AS (
      SELECT count(*) AS n
      FROM hchk h JOIN l{rounds} l ON l.node = h.node AND l.label != h.label),
    clusters AS (
      SELECT node AS member_id,
             CAST(CASE WHEN (SELECT n FROM ccdiff) > 0
                  THEN error('cc oracle: no hook fixpoint after {rounds} rounds')
                  ELSE label END AS BIGINT) AS cluster_id
      FROM l{rounds})"""
    )
    return ",\n    ".join(parts)


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (member_id,
    cluster_id) with cluster_id = the smallest reachable id: the step
    that turns PAIRS into dedup decisions (keep cluster_id, drop the
    rest). Transitive closure matters: A~B and B~C must land in ONE
    cluster even when A~C was never a candidate pair.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond" — the published
    MapReduce CC algorithm): each round every node hooks its larger
    neighbors (large-star) then its smaller ones (small-star) onto the
    minimum of its neighborhood, which CONTRACTS paths instead of
    walking them — components collapse to stars centered at their min
    node in O(log n) rounds, where plain min-label propagation needs
    O(diameter) rounds and silently splits any chain longer than the
    iteration cap. Convergence is detected by an (edge-count,
    hash-sum) signature going stable — one action per round on the
    shared edge set — and exhausting ``max_iterations``
    without converging RAISES rather than returning split clusters
    (2^20-diameter graphs converge within the default 20)."""

    def canon(e: DataFrame) -> DataFrame:
        # undirected canonical form: (small, large), no self-loops
        return (
            e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    # lazy: the first round's signature action materializes it
    edges = shared(canon(pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))))
    sig = None
    for _ in range(max_iterations):
        # large-star: every node u connects its LARGER neighbors v to the
        # min m of its neighborhood (incl. itself). m <= u < v, so the
        # emitted pair (a=m, b=v) is born canonical with no self-loops;
        # duplicates are harmless (the next min-agg absorbs them), so no
        # intermediate distinct — one fewer shuffle per round
        nbrs = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        le = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))  # a < b
        )
        # small-star: direct each edge large->small; every node u connects
        # its smaller neighbors (and itself) to their min m. Emitted pairs
        # (m, v) / (m, u) are canonical; (m, m) self-loops dropped
        d = le.select(F.col("b").alias("u"), F.col("a").alias("v"))  # u > v
        smins = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d.join(smins, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(smins.select(F.col("m").alias("a"), F.col("u").alias("b")))
        )
        edges = shared(small.distinct())
        # one action per round: materializes the checkpoint AND computes
        # the convergence signature of the canonical edge set
        row = edges.agg(
            F.count("*").alias("n"),
            # decimal sum: exact and overflow-free under ANSI mode
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()
        new_sig = (row["n"], row["h"])
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} rounds; "
            "the pair graph is adversarially deep — raise max_iterations"
        )
    # converged: every component is a star centered at its min node
    nbrs = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return nbrs.groupBy(F.col("u").alias("member_id")).agg(
        F.least(F.min("v"), F.first("u")).alias("cluster_id")
    )


def passage_dedup(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Passage-level exact dedup (C4-style span removal, at word-window
    granularity): split each document into consecutive non-overlapping
    ``w``-word passages, hash each, and drop every passage whose hash
    occurs in MORE THAN ONE document — boilerplate (headers, footers,
    license blocks) vanishes while unique prose survives. Returns one
    row per doc: passage counts, the duplicated-passage ratio, and the
    reconstructed ``dedup_text`` with duplicated passages removed (in
    original order).

    Shape: one explode to passage volume, one groupBy on the passage
    hash (high-entropy key — skew-free), one hash join back, one
    doc-keyed agg that rebuilds the text via sort_array over (pos,
    passage) structs. No windows, no collects; passage volume is
    ~n_words/w rows per doc, each carrying one md5 — the widest
    exchange is the corpus-wide hash groupBy, same scale class as
    exact_dedup's content-hash shuffle."""
    passages = (
        df.select(F.col(id_col), words(text_col).alias("_w"))
        .select(id_col, F.posexplode(word_grams("_w", w, stride=w)).alias("pos", "passage"))
        .withColumn("phash", F.md5("passage"))
    )
    dup = (
        passages.groupBy("phash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("phash")
        .withColumn("_dup", F.lit(True))
    )
    flagged = passages.join(dup, "phash", "left").withColumn(
        "is_dup", F.coalesce(F.col("_dup"), F.lit(False))
    )
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(~F.col("is_dup"), F.struct("pos", "passage"))
                )
            ),
            lambda s: s["passage"],
        ),
        " ",
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_passages"),
        F.count_if(F.col("is_dup")).alias("n_dup_passages"),
        (F.count_if(F.col("is_dup")).cast("double") / F.count("*").cast("double")).alias(
            "dup_ratio"
        ),
        kept_text.alias("dedup_text"),
    )


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs at scale: band the ``bits``-bit md5
    fingerprint into ``bands`` chunks — two fingerprints within hamming
    distance ``bands - 1`` (pigeonhole) share at least one identical
    chunk — self-join per (band, chunk) for candidates, then verify
    ``bit_count(xor) <= max_hamming`` exactly. The Google-dedup
    companion to MinHash-LSH: one fused aggregation builds fingerprints
    (no shingle explode), candidates are an ids+fingerprint join on a
    high-entropy key, and the hamming verify is two codegen'd integer
    ops — no second pass over text.

    Requires ``max_hamming <= bands - 1`` for full recall (the
    pigeonhole guarantee); raises otherwise rather than silently
    missing pairs."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"simhash_near_dup: max_hamming={max_hamming} exceeds the pigeonhole "
            f"guarantee of bands-1={bands - 1}; raise bands for full recall"
        )
    if bits % bands != 0:
        raise ValueError(f"simhash_near_dup: bits={bits} not divisible by bands={bands}")
    rows = bits // bands
    mask = (1 << rows) - 1
    # the fingerprint table is the STORED SimHash index (the Google-
    # dedup design stores fingerprints and appends new docs' hashes):
    # memoize it like every other index frame — the banded self-join's
    # two sides then read ONE materialized build instead of re-running
    # the token explode + 48-bit-sum aggregation per side per timed run
    fp = stored(
        "dedup.simhash",
        df,
        (id_col, text_col, bits, "simhash_md5"),
        lambda: simhash(df, id_col, text_col, bits=bits),
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"shiftright(simhash, {b * rows}) & {mask}").alias("chunk"),
        )
        for b in range(bands)
    ]
    banded = fp.select(
        id_col, "simhash", F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.chunk")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "chunk"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "chunk"
    )
    return (
        # neither side is bounded (both are the corpus-sized banded
        # fingerprint table): pin shuffle_hash so the post-aggregation
        # size estimate can't sneak the whole index under the broadcast
        # threshold at mid scale (the CLAUDE.md gram-self-join rule)
        a.join(b.hint("shuffle_hash"), ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        # hamming verify BEFORE the dedup: bit_count(xor) is two codegen
        # integer ops per collision, so the multi-band duplicate drop
        # pays a survivor-sized exchange, never a candidate-sized one
        # (dedup the output-sized remainder — the dense top-k rule of
        # similarity._query_topk)
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("sh_a ^ sh_b")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dataset_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
) -> DataFrame:
    """Pairwise corpus-slice overlap matrix via GROUP-level MinHash:
    the signature of a slice (source, crawl, dump...) is the
    element-wise min over every document's shingle hashes — min is
    associative, so grouping ``portable_signatures`` by the slice key
    instead of the doc id computes it in the same single aggregation,
    and sig_a[i] == sig_b[i] estimates the shingle-set Jaccard between
    the two slices. This is the dataset-contamination / mixture-drift
    estimator: G slices compare in G^2/2 signature comparisons
    regardless of corpus size (the corpus is touched ONCE).

    Shape: shingle explode -> DISTINCT (slice, shingle) -> one
    group-keyed 64-min agg (G rows out), checkpoint, posexplode to
    (grp, i, mh), equi-join on the hash INDEX i (G rows per side per
    index — the G^2 pair work is the output, not a shuffle blowup),
    one pair-keyed agg. Engine-portable Carter-Wegman hashes -> the
    DuckDB oracle replays bit-for-bit.

    The distinct (r13 — the r12 verdict's dataset_overlap item) is the
    group-level INVERSION of the per-doc multiset rule: with G slices
    as keys the distinct pair set is vocab-bounded (sf1: 388k pairs vs
    14.7M occurrences), so deduping BEFORE the md5 removes ~97% of the
    hash + 64-mulmod work, for bit-identical minima (min over a
    multiset == min over its set)."""
    sigs = shared(portable_signatures(df, group_col, text_col, k, n_hashes, distinct=True))
    ex = sigs.select(
        F.col(group_col), F.posexplode("sig").alias("i", "mh")
    )
    a = ex.select(F.col(group_col).alias("src_a"), "i", F.col("mh").alias("mh_a"))
    b = ex.select(F.col(group_col).alias("src_b"), "i", F.col("mh").alias("mh_b"))
    return (
        a.join(b, "i")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            (
                F.count_if(F.col("mh_a") == F.col("mh_b"))
                / F.lit(float(n_hashes))
            ).alias("est_jaccard")
        )
    )


def fuzzy_string_join(
    probes: DataFrame,
    corpus: DataFrame,
    probe_id: str,
    probe_str: str,
    corpus_id: str,
    corpus_str: str,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Set-similarity (fuzzy string) join — entity resolution: match
    probe strings to corpus strings whose character n-gram Jaccard
    clears ``threshold``, without a cross join. Candidate pairs come
    from an n-gram equi-join; the exact Jaccard then verifies each
    candidate from the FULL gram sets.

    ``max_gram_df`` is the scale lever: grams occurring in more than
    that many corpus strings ('the'-grade trigrams) are dropped from
    CANDIDATE GENERATION only — verification still uses every gram, so
    scores are exact; only pairs sharing nothing but ubiquitous grams
    can be missed (documented recall trade, the standard ssjoin
    frequency filter). Without it a viral gram pairs every probe with
    every corpus row containing it — the quadratic blowup this
    operator exists to avoid.

    Shape (r9): a string's distinct gram set is a pure per-ROW
    function, so the gram sets stay ARRAYS — ``array_distinct`` builds
    them in-row (no shuffle-DISTINCT), their sizes ride along as
    ``size(...)`` (no per-id count aggregations), and verification is
    ``size(array_intersect(...))`` on the two arrays joined back by id
    (no gram-keyed intersection join + count). What remains distributed
    is exactly what must be: one gram-keyed shuffle of the exploded
    corpus grams (df-guard window, reused by the candidate equi-join)
    and the candidate-volume id joins — the r8 form paid ~12 exchanges
    for this, this form pays 5. Ids are assumed unique keys per string
    (both suite panels and the oracle treat them as such; a duplicated
    id would score per-row here vs per-merged-id before)."""
    gram_set = F.array_distinct(char_grams("_t", n))
    # its gram explode and the verification join read this compact array
    p = shared(
        spread_input(probes)
        .select(F.col(probe_id), normalize_text(probe_str).alias("_t"))
        .select(probe_id, gram_set.alias("_pg"))
    )
    pg = p.select(probe_id, F.explode("_pg").alias("gram"))
    c = shared(
        spread_input(corpus)
        .select(F.col(corpus_id), normalize_text(corpus_str).alias("_t"))
        .select(corpus_id, gram_set.alias("_cg"))
    )
    cg = c.select(corpus_id, F.explode("_cg").alias("gram"))
    cand_cg = cg
    if max_gram_df is not None:
        # df-guard as a gram-partitioned window count, not a
        # (counts ⋈ grams) self-join: one shuffle of cg on the
        # high-entropy gram key and no second corpus-derived side to
        # mis-broadcast
        from pyspark.sql import Window

        w_df = Window.partitionBy("gram")
        cand_cg = (
            cg.withColumn("_df", F.count("*").over(w_df))
            .filter(F.col("_df") <= max_gram_df)
            .drop("_df")
        )
    # shuffle_hash pins on every join whose big side is CORPUS-derived:
    # the gram frame is a 10-50x explode whose Catalyst size estimate is
    # the pre-explode scan bytes, and the unpinned sf1 plan broadcast
    # the (corpus_id, gram) frame — the mid-scale driver-OOM shape (see
    # containment_pairs). The gram-keyed window shuffle above is REUSED
    # by this join, so the pin adds no exchange on the big side; the
    # PROBE gram side is panel-bounded and stays the planner's call.
    cands = (
        pg.join(cand_cg.hint("shuffle_hash"), "gram")
        .select(probe_id, corpus_id)
        .distinct()
    )
    # verification: join the gram ARRAYS back by id (the corpus side
    # keeps the shuffle_hash pin — same never-broadcast-the-corpus rule,
    # the array frame's estimate is still scan bytes) and intersect
    # in-row
    # Both the keep/drop decision and the published 6-decimal ratio are
    # computed in EXACT integer space (README "never round() a published
    # ratio" — the r7 robust_z tie class): the micro-jaccard
    # round(j * 1e6) is the half-away-from-zero integer division
    # (2e6·inter + den) div (2·den), the filter compares that integer to
    # the micro-threshold, and the displayed value is ONE final IEEE
    # division by 1e6 — no engine round() anywhere a representable
    # half-tie could flip a row count. Thresholds are interpreted at the
    # same 1e-6 resolution the published ratio carries.
    thr_u = round(threshold * 1_000_000)
    micro_j = F.expr(
        "(CAST(_inter AS BIGINT) * 2000000 + (_np + _nc - _inter))"
        " div (2 * CAST(_np + _nc - _inter AS BIGINT))"
    )
    return (
        cands.join(p, probe_id)
        .join(c.hint("shuffle_hash"), corpus_id)
        .select(
            probe_id,
            corpus_id,
            F.size(F.array_intersect("_pg", "_cg")).alias("_inter"),
            F.size("_pg").alias("_np"),
            F.size("_cg").alias("_nc"),
        )
        .select(probe_id, corpus_id, micro_j.alias("_ju"))
        .filter(F.col("_ju") >= F.lit(thr_u))
        .select(
            probe_id,
            corpus_id,
            (F.col("_ju").cast("double") / F.lit(1000000.0)).alias("jaccard"),
        )
    )


# broadcast budget for containment's candidate-id semi filter: long ids
# at 20M entries hash to a few hundred MB — the same bound the triangle
# census uses for its packed-long closing map (graph.MAX_CENSUS_EDGES)
_MAX_CAND_ID_BROADCAST = 20_000_000


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    threshold: float = 0.5,
    max_gram_df: int = 100,
) -> DataFrame:
    """Doc-in-doc containment detection — the quote / excerpt / wrapped-
    boilerplate case Jaccard-based near-dup is BLIND to: a 100-word
    passage reproduced inside a 10k-word article has Jaccard ~0.01 (LSH
    on Jaccard never surfaces the pair) but overlap-coefficient
    containment ~1.0. Containment is what a training-data pipeline
    needs for eval-leak and license-compliance sweeps: "is this doc
    substantially INSIDE another doc", regardless of the size ratio.

    Definition: over distinct word ``n``-grams, containment(A,B) =
    |A ∩ B| / min(|A|, |B|) (the overlap coefficient — symmetric, and
    equal to the directional containment of the smaller doc). Pairs
    with containment >= ``threshold`` are reported with their exact
    gram counts and, for contrast, the Jaccard the LSH path would have
    had to clear.

    Candidate generation mirrors ``fuzzy_string_join``'s ssjoin
    frequency filter: docs pair only when they share a gram occurring
    in <= ``max_gram_df`` docs — word 8-grams are high-entropy, so
    only genuinely duplicated passages (not topic overlap) generate
    candidates, and a boilerplate gram shared by half the corpus
    cannot quadratically pair it. Verification then counts ALL shared
    grams, so reported scores are exact; only pairs sharing nothing
    but ubiquitous grams can be missed (the documented recall trade).

    Shape: one gram explode (spread_input-guarded, distinct),
    shared — it feeds the candidate aggregation and ONE
    candidate-id semi filter. Candidates come from ONE gram-keyed
    groupBy whose per-gram state is capped at max_gram_df ids
    (<= max_gram_df² pairs emitted per gram). Verification no longer
    touches the full gram table (the r11 rework): the gram frame is
    cut to CANDIDATE docs by a broadcast semi join on the candidate-id
    set (a filter over the checkpointed partitions — no corpus-sized
    exchange), and both verify sides AND the n_a/n_b size aggregate
    come from that candidate-doc slice, removing three full-gram
    exchanges (ga by id, gb by (id, gram), sizes by id; sf1 5.1 ->
    4.7 s and verify cost now scales with reported-pair volume, not
    corpus volume). The candidate-id broadcast is routed by the
    MEASURED candidate-ID count (the distinct ids, not the pair count
    — pairs grow quadratically in cluster size while the id set stays
    small): past ``_MAX_CAND_ID_BROADCAST`` ids it degrades to a
    shuffle_hash semi join. The count is near-free, not displaced
    work: under AQE the ``shared`` call has already executed
    the candidate pipeline's stages by the time the count runs, and
    bench.py's clock includes plan construction (both halves of the
    r11 benchmark-honesty finding — an earlier cut routed on the input
    doc count to keep construction light, but with construction timed
    the exact bound costs nothing extra). Nothing
    is corpus-quadratic, nothing collects, and no corpus-sized frame
    is ever broadcast (see the in-body notes on the shared frame's
    size-estimate trap).

    CALLER-FACING EAGERNESS: constructing this query EXECUTES the
    candidate pipeline's stages immediately (a shared frame under AQE
    runs its subtree at call time, and the broadcast-vs-shuffle routing
    counts the checkpointed id set) — building the DataFrame without
    ever executing it still pays the candidate generation cost."""
    from .text import word_ngram_hashes

    # gram keys are 60-bit md5-half hashes, never strings: the operator
    # only ever KEYS on the gram (candidate groupBy, semi filter, verify
    # joins) and never outputs it, so an 8-byte long replaces the
    # ~n·word-length string in the checkpoint blocks and every exchange
    # (r13 — the dictionary-encoding discipline applied to gram keys;
    # the oracle replays the identical md5 half, so distinct/intersect
    # counts stay bit-for-bit even in the collision case).
    # The distinct gram-hash table is a derived corpus projection —
    # memoized STORED state, shared by its three consumers.
    grams = shared(
        stored(
            "dedup.gram_hashes",
            df,
            (id_col, text_col, n, "word_gram_hashes"),
            lambda: word_ngram_hashes(df, id_col, text_col, n),
        )
    )
    # Candidate pairs come from ONE gram-keyed aggregation emitting the
    # in-gram id combinations (state bounded by max_gram_df ids per
    # gram, never a skew risk) — NOT a gram self-join: the gram frame is
    # a 10-50x explode hiding behind a shared frame, Catalyst's size
    # estimate (pre-explode scan bytes) undershoots it by the same
    # factor, and the self-join form was observed BROADCASTING the
    # corpus gram table at sf1 — the mid-scale driver-OOM shape
    # CLAUDE.md pins for bpe/lm. The grouped form shuffles the gram
    # stream once and emits pair volume directly.
    ids_sorted = F.array_sort(F.collect_list(id_col))
    pair_structs = F.expr(
        "flatten(transform(_ids, (x, i) ->"
        " transform(slice(_ids, i + 2, size(_ids)), y ->"
        " struct(x AS id_a, y AS id_b))))"
    )
    cands = shared(
        grams.groupBy("_gh")
        .agg(ids_sorted.alias("_ids"))
        .filter(F.size("_ids") <= max_gram_df)
        .select(F.explode(pair_structs).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )
    # candidate-doc slice of the gram table: the shared call above
    # has already run the candidate pipeline's stages, so counting the
    # DISTINCT id set here costs one pair-volume micro-job and gives the EXACT
    # broadcast bound — routing on 2x the pair count would degrade to
    # the shuffle_hash path prematurely on dense clusters, where pairs
    # grow quadratically in cluster size while the id set stays tiny
    # (r11 review). Past the budget the semi join degrades to a
    # shuffle_hash exchange instead of an oversized broadcast — same
    # routing rule as the triangle closing join.
    cid = shared(
        cands.select(F.col("id_a").alias(id_col)).union(cands.select(F.col("id_b"))).distinct()
    )
    if cid.count() <= _MAX_CAND_ID_BROADCAST:
        gsub = grams.join(F.broadcast(cid), id_col, "left_semi")
    else:
        gsub = grams.join(cid.hint("shuffle_hash"), id_col, "left_semi")
    gsub = shared(gsub)
    ga = gsub.select(F.col(id_col).alias("id_a"), "_gh")
    gb = gsub.select(F.col(id_col).alias("id_b"), "_gh")
    sizes = gsub.groupBy(id_col).agg(F.count("*").alias("_n"))
    # verification joins stay candidate-volume shuffles: both sides get
    # the shuffle_hash pin for the same bogus-stats reason as above
    # (neither side is bounded by construction)
    inter = (
        cands.join(ga.hint("shuffle_hash"), "id_a")
        .join(gb.hint("shuffle_hash"), ["id_b", "_gh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("n_b"))
    # exact integer rounding + thresholding, same scheme (and same tie
    # rationale) as fuzzy_string_join: micro-ratio = half-away-from-zero
    # (2e6·num + den) div (2·den), filter on the integer, publish the
    # one-IEEE-division value — no engine round() feeds a row decision
    thr_u = round(threshold * 1_000_000)
    micro_c = F.expr(
        "(n_inter * 2000000 + least(n_a, n_b)) div (2 * least(n_a, n_b))"
    )
    micro_j = F.expr(
        "(n_inter * 2000000 + (n_a + n_b - n_inter))"
        " div (2 * (n_a + n_b - n_inter))"
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_inter",
            micro_c.alias("_cu"),
            micro_j.alias("_ju"),
        )
        .filter(F.col("_cu") >= F.lit(thr_u))
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_inter",
            (F.col("_cu").cast("double") / F.lit(1000000.0)).alias("containment"),
            (F.col("_ju").cast("double") / F.lit(1000000.0)).alias("jaccard"),
        )
    )


def dedup_precision_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    est_threshold: float = 0.5,
    true_threshold: float = 0.5,
) -> DataFrame:
    """Index-quality measurement for the MinHash near-dup path — the
    text-side sibling of ``similarity.ann_recall_audit``: every pair
    the LSH pipeline reports is re-scored with the EXACT shingle-set
    Jaccard (same char-k shingle space the signatures hash), and one
    row summarizes how trustworthy the index's verdicts are:

      (n_pairs, n_true, precision_ppm, mean_abs_err)

    precision = fraction of reported pairs whose true Jaccard clears
    ``true_threshold``; mean_abs_err = average |signature estimate −
    true Jaccard| (per-pair error quantized to 1e-6 before the sum, so
    the aggregate is order-free and oracle-replayable). Run it per
    batch before acting on a dedup sweep: n_hashes/bands tuning that
    silently degrades precision shows up here, not in row counts.

    Shape: the standard portable LSH pass, then the exact-Jaccard gram
    join at REPORTED-pair volume only (never all-pairs), then a 1-row
    aggregate. Cost ~ the dedup pass it audits."""
    # the stored decision table the dedup pass ships; four joins below read it
    pairs = shared(minhash_pairs_frame(df, id_col, text_col, k, n_hashes, bands, est_threshold))
    exact = ngram_jaccard(df, id_col, text_col, pairs.select("id_a", "id_b"), n=k)
    j = pairs.join(exact, ["id_a", "id_b"])
    err_q = F.floor(
        F.abs(F.col("est_jaccard") - F.col("jaccard")) * 1000000 + F.lit(0.5)
    ).cast("long")
    agg = j.agg(
        F.count("*").alias("n_pairs"),
        F.count_if(F.col("jaccard") >= true_threshold).alias("n_true"),
        F.sum(err_q).alias("_errq"),
    )
    return agg.select(
        "n_pairs",
        "n_true",
        F.expr(
            "CASE WHEN n_pairs > 0 THEN (n_true * 1000000) div n_pairs END"
        ).alias("precision_ppm"),
        F.when(
            F.col("n_pairs") > 0,
            F.round(
                F.col("_errq").cast("double") / 1000000 / F.col("n_pairs"), 6
            ),
        ).alias("mean_abs_err"),
    )
