"""Property-based invariants (hypothesis) for the composable operators —
the reference's test strategy (SURVEY §5) extended with generated
inputs: conservation laws, idempotence, and distributed-vs-sequential
agreement that example fixtures can miss.

Each property runs a Spark job per example, so example counts stay
small and data tiny; deadline is disabled (JVM scheduling jitter)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
    budget=st.integers(min_value=1, max_value=64),
)
@PROP
def test_pack_sequences_conserves_tokens(spark, toks, budget):
    from duckdb_dbt_finance_warehouse_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(list(enumerate(toks)), ["doc_id", "n_tok"])
    pieces = pack_sequences(df, "doc_id", "n_tok", budget=budget, n_streams=4).collect()
    # conservation: every positive token lands in exactly one piece
    assert sum(r["piece_tokens"] for r in pieces) == sum(t for t in toks if t > 0)
    # no piece exceeds the budget; every sequence fills to budget except
    # each stream's last
    per_seq = {}
    for r in pieces:
        assert 0 < r["piece_tokens"] <= budget
        per_seq.setdefault((r["stream"], r["seq_id"]), 0)
        per_seq[(r["stream"], r["seq_id"])] += r["piece_tokens"]
    for (stream, seq), tot in per_seq.items():
        last = max(s for (st_, s) in per_seq if st_ == stream)
        assert tot == budget or seq == last


@given(
    tgt=st.dictionaries(st.integers(0, 20), st.integers(0, 5), max_size=12),
    src=st.dictionaries(st.integers(0, 20), st.integers(0, 5), max_size=12),
    dels=st.sets(st.integers(0, 20), max_size=6),
)
@PROP
def test_merge_upsert_keyset_and_idempotence(spark, tgt, src, dels):
    from duckdb_dbt_finance_warehouse_spark.sources.tables import merge_upsert

    target = spark.createDataFrame(
        [(k, v) for k, v in tgt.items()] or [(99, 0)], ["k", "v"]
    )
    source = spark.createDataFrame(
        [(k, v, k in dels) for k, v in src.items()] or [(98, 0, False)],
        ["k", "v", "is_delete"],
    )
    out1 = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"], "is_delete").collect()}
    # key set law: target keys not in source, plus source keys not deleted
    t = {k: v for k, v in (tgt.items() or [(99, 0)])} if tgt else {99: 0}
    s = src if src else {98: 0}
    expected = {k: v for k, v in t.items() if k not in s}
    expected.update({k: v for k, v in s.items() if k not in dels})
    assert out1 == expected
    # idempotence: re-merging the same source changes nothing
    merged_df = spark.createDataFrame(
        [(k, v) for k, v in out1.items()] or [(97, 0)], ["k", "v"]
    )
    out2 = {r["k"]: r["v"] for r in merge_upsert(merged_df, source, ["k"], "is_delete").collect()}
    if out1:
        assert out2 == out1


@given(
    vals=st.lists(st.integers(0, 500), min_size=1, max_size=80),
    mod=st.integers(2, 5),
)
@PROP
def test_hll_merge_invariant_under_batching(spark, vals, mod):
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    df = spark.createDataFrame([(v, v % mod) for v in vals], ["x", "batch"])
    inc = {
        r["part"]: r["hll_estimate"]
        for r in sketch.hll_incremental_estimate(df, "x", "batch").collect()
    }
    direct = sketch.hll_distinct(df, "x").collect()[0]["hll_estimate"]
    assert inc["merged"] == direct  # batch boundaries can't change the sketch


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=60
    )
)
@PROP
def test_salted_agg_equals_plain_groupby(spark, rows):
    from duckdb_dbt_finance_warehouse_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, ["k", "v"])
    salted = {
        r["k"]: (r["n"], r["sum_v"])
        for r in salted_agg(
            df,
            ["k"],
            {"n": ("sum", F.count("*")), "sum_v": ("sum", F.sum("v"))},
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["sum_v"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert salted == plain


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=25
    )
)
@PROP
def test_dedup_clusters_match_sequential_union_find(spark, edges):
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import dedup_clusters

    pairs = [(a, b) for a, b in edges if a != b]
    if not pairs:
        pairs = [(0, 1)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["member_id"]: r["cluster_id"] for r in dedup_clusters(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in parent:
        want[n] = find(n)
    assert got == want


@given(
    raw=st.lists(
        st.tuples(st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=7)),
        min_size=1,
        max_size=20,
    )
)
@PROP
def test_triangle_census_matches_bruteforce(spark, raw):
    """triangle_stats == brute-force enumeration on every small random
    graph: edge count, exact wedge count Σ C(d,2), triangle count, and
    the clustering ratio."""
    import itertools

    from duckdb_dbt_finance_warehouse_spark.operators import graph

    es = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not es:
        return
    eset = set(es)
    nodes = sorted({v for e in es for v in e})
    tri = sum(
        1
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    deg: dict[int, int] = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())

    got = graph.triangle_stats(spark.createDataFrame(es, ["a", "b"])).first()
    assert got["n_edges"] == len(es)
    assert got["n_wedges"] == wedges
    assert got["n_triangles"] == tri
    if wedges:
        assert got["clustering_coeff"] == 3.0 * tri / wedges


@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=60 * 60 * 24 - 1), min_size=1, max_size=30
    )
)
@PROP
def test_hopping_equals_tumbling_when_slide_is_size(spark, offsets):
    """window(size, slide=size) degenerates to the tumbling window —
    the two operators must agree on any event set."""
    from datetime import datetime, timedelta

    from duckdb_dbt_finance_warehouse_spark.operators import sessionize

    base = datetime(2024, 3, 1)
    rows = [
        (i, base + timedelta(seconds=o), i % 3, "click" if o % 2 else "view")
        for i, o in enumerate(offsets)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    hop = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["n_users"])
        for r in sessionize.hopping_window(df, size_minutes=60, slide_minutes=60).collect()
    }
    tum = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["n_users"])
        for r in sessionize.tumbling_window(df, unit="hour").collect()
    }
    assert hop == tum


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    )
)
@PROP
def test_containment_pairs_match_bruteforce(spark, docs):
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import containment_pairs

    n, max_df, thr = 2, 3, 0.4
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["n_a"], r["n_b"], r["n_inter"], r["containment"])
        for r in containment_pairs(
            df, "doc_id", "text", n=n, threshold=thr, max_gram_df=max_df
        ).collect()
    }

    def grams(words):
        toks = words if len(words) >= n else words
        return {
            " ".join(toks[i : i + n])
            for i in range(max(len(toks) - n + 1, 1))
        }

    gsets = {i: grams(w) for i, w in enumerate(docs)}
    from collections import Counter
    dfreq = Counter(g for s in gsets.values() for g in s)
    rare = {g for g, c in dfreq.items() if c <= max_df}
    want = {}
    for a in gsets:
        for b in gsets:
            if a >= b or not (gsets[a] & gsets[b] & rare):
                continue
            inter = len(gsets[a] & gsets[b])
            cont = round(inter / min(len(gsets[a]), len(gsets[b])), 6)
            if cont >= thr:
                want[(a, b)] = (len(gsets[a]), len(gsets[b]), inter, cont)
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
        min_size=3,
        max_size=30,
    )
)
@PROP
def test_mad_outliers_match_bruteforce(spark, vals):
    import math

    from duckdb_dbt_finance_warehouse_spark.operators.stats import mad_outliers

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["event_id", "value"])
    got = {r["event_id"]: r for r in mad_outliers(df, "event_id", "value").collect()}

    def interp_median(xs):
        s = sorted(xs)
        k = len(s) - 1
        lo, hi = s[k // 2], s[(k + 1) // 2]
        return (lo + hi) / 2.0

    vq = [math.floor(v * 10_000 + 0.5) for _, v in rows]
    med2 = round(2 * interp_median(vq))
    dev2 = {i: abs(2 * q - med2) for i, q in zip(range(len(vq)), vq)}
    mad4 = round(2 * interp_median(list(dev2.values())))
    for i, q in enumerate(vq):
        if mad4 == 0:
            assert got[i]["robust_z"] is None and got[i]["is_outlier"] is False
        else:
            num = 1349000 * (2 * q - med2)
            z6 = (-1 if num < 0 else 1) * ((2 * abs(num) + mad4) // (2 * mad4))
            want_z = z6 / 1000000.0
            assert got[i]["robust_z"] == want_z
            assert got[i]["is_outlier"] == (1349 * dev2[i] > 3500 * mad4)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=2, max_size=8),
        min_size=3,
        max_size=12,
    )
)
@PROP
def test_perplexity_buckets_partition_is_monotone(spark, texts):
    from duckdb_dbt_finance_warehouse_spark.operators.text import perplexity_buckets

    rows = [(i, " ".join(w)) for i, w in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = perplexity_buckets(df, "doc_id", "text").collect()
    assert len(out) == len(texts)
    by_bucket = {}
    score_to_bucket = {}
    for r in out:
        by_bucket.setdefault(r["ppl_bucket"], []).append(r["score_q"])
        # equal scores always share a bucket
        assert score_to_bucket.setdefault(r["score_q"], r["ppl_bucket"]) == r["ppl_bucket"]
    order = [b for b in ("tail", "middle", "head") if b in by_bucket]
    # buckets are contiguous, ascending score ranges
    for lo, hi in zip(order, order[1:]):
        assert max(by_bucket[lo]) < min(by_bucket[hi])


@given(
    seq=st.lists(
        st.sampled_from(["a", "b", "c", None]), min_size=1, max_size=14
    ),
    depth=st.integers(min_value=1, max_value=4),
)
@PROP
def test_event_paths_match_bruteforce_with_nulls(spark, seq, depth):
    """event_paths must equal the sequential sliding-window count with
    the all-steps-non-null rule: a NULL anywhere in a window drops that
    starting position (never a silently shortened path)."""
    from datetime import datetime

    from duckdb_dbt_finance_warehouse_spark.operators.sessionize import event_paths

    rows = [
        (i, datetime(2024, 1, 1, i // 60, i % 60), 1, e)
        for i, e in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {r["path"]: r["n"] for r in event_paths(df, depth=depth, top_k=1000).collect()}
    want: dict[str, int] = {}
    for i in range(len(seq) - depth + 1):
        window = seq[i : i + depth]
        if all(s is not None for s in window):
            key = ">".join(window)
            want[key] = want.get(key, 0) + 1
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # user
            st.integers(min_value=0, max_value=3),   # day
            st.booleans(),                           # is purchase
            st.integers(min_value=0, max_value=500), # value cents
        ),
        min_size=1,
        max_size=30,
    )
)
@PROP
def test_rfm_segments_invariants(spark, events):
    """Conservation + score-range + grid-bound invariants for the RFM
    rollup on arbitrary event streams: every user lands in exactly one
    segment, scores stay in 1..3, day-sharing users share an r_score,
    and quantized monetary mass is conserved."""
    from datetime import datetime

    from duckdb_dbt_finance_warehouse_spark.operators.sessionize import rfm_segments

    rows = [
        (i, datetime(2024, 2, 1 + d, 12, i % 60), u,
         "purchase" if p else "view", cents / 100.0)
        for i, (u, d, p, cents) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = rfm_segments(df).collect()
    users = {u for _, (u, _, _, _) in zip(rows, events)}
    assert sum(r["n_users"] for r in out) == len(users)
    assert all(
        1 <= r[s] <= 3 for r in out for s in ("r_score", "f_score", "m_score")
    )
    want_mq = {}
    for i, (u, d, p, cents) in enumerate(events):
        if p:
            want_mq[u] = want_mq.get(u, 0) + cents
    assert sum(r["monetary_q"] for r in out) == sum(want_mq.values())


@given(
    vals=st.lists(
        st.lists(st.integers(-4, 4), min_size=4, max_size=4),
        min_size=6,
        max_size=24,
    ),
    mod=st.integers(2, 4),
)
@settings(
    max_examples=6,  # two full ANN serving pipelines per example
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_index_invariant_under_batching(spark, vals, mod):
    """The round-7 index-lifecycle invariant as a law: HOWEVER the
    corpus is split into (base, appended batch), frozen-model IVF and
    frozen-plane LSH serving over the merged index must equal the
    full-rebuild serving — batch boundaries cannot change assignment,
    so they cannot change any probe's top-k."""
    from duckdb_dbt_finance_warehouse_spark.operators import similarity
    from duckdb_dbt_finance_warehouse_spark.state import release_persisted

    rows = [
        # first component >=1 so no vector has zero norm
        (i, [float(abs(v[0]) + 1)] + [float(x) for x in v[1:]])
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    base = df.filter(F.col("vec_id") % mod != 0)
    batch = df.filter(F.col("vec_id") % mod == 0)
    if base.limit(1).count() == 0:
        return
    probes = df

    model = similarity._ivf_model(df, "vec_id", "embedding", 4, None, "prop")
    inc = similarity.ivf_incremental_topk(
        base, batch, probes, k=3, n_centroids_mod=4, n_probes=2, model=model
    )
    got = sorted(map(tuple, inc.collect()))
    release_persisted()
    full = similarity.ivf_ann_topk_probe_table(
        df, probes, k=3, n_centroids_mod=4, n_probes=2, model=model
    )
    assert got == sorted(map(tuple, full.collect()))

    # every row probes: the panel is the whole indexed table
    inc_l = similarity.lsh_incremental_topk(
        base, batch, F.lit(True), k=3, n_tables=2, n_planes=2, dim=4
    )
    got_l = sorted(map(tuple, inc_l.collect()))
    release_persisted()
    full_l = similarity.lsh_ann_topk_probe_table(
        df, F.lit(True), k=3, n_tables=2, n_planes=2, dim=4
    )
    assert got_l == sorted(map(tuple, full_l.collect()))


@given(
    data=st.data(),
)
@PROP
def test_url_canonicalize_idempotent(spark, data):
    """Canonicalization is a projection: applying it twice must equal
    applying it once (a second pass finds nothing left to strip), for
    any URL assembled from the supported grammar — mixed-case scheme/
    host, optional www./port, path segments, shuffled tracking and
    real query params."""
    from duckdb_dbt_finance_warehouse_spark.operators import url as url_ops

    scheme = data.draw(st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]))
    www = data.draw(st.sampled_from(["", "www.", "WWW."]))
    host = data.draw(st.sampled_from(["Ex.COM", "ex.com", "A.b.ORG"]))
    port = data.draw(st.sampled_from(["", ":80", ":443", ":8443"]))
    path = data.draw(st.sampled_from(["", "/", "/A/Page", "/p"]))
    params = data.draw(
        st.lists(
            st.sampled_from(
                ["id=1", "q=X", "utm_source=a", "utm_medium=b", "ref=c",
                 "href=keep", "xutm_a=keep"]
            ),
            max_size=4,
        )
    )
    u = f"{scheme}://{www}{host}{port}{path}"
    if params:
        u += "?" + "&".join(params)
    df = spark.createDataFrame([(u,)], "url string")
    once = df.select(url_ops.canonicalize_url(F.col("url")).alias("c"))
    twice = once.select(url_ops.canonicalize_url(F.col("c")).alias("c"))
    a = once.collect()[0]["c"]
    b = twice.collect()[0]["c"]
    assert a == b, (u, a, b)
    assert "utm_" not in a.split("?")[-1].replace("xutm_", "") or "?" not in a


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=20
    ),
    rounds=st.integers(1, 3),
)
@PROP
def test_label_propagation_matches_sequential(spark, edges, rounds):
    """Distributed LPA must equal a sequential reference implementation
    (synchronous update, majority label, min tie-break), and be
    invariant under edge direction (the graph is symmetrized)."""
    from collections import Counter

    from duckdb_dbt_finance_warehouse_spark.operators import graph
    from duckdb_dbt_finance_warehouse_spark.state import release_persisted

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(e, rounds=rounds).collect()
    }
    rev = spark.createDataFrame([(b, a) for a, b in edges], "src long, dst long")
    got_rev = {
        r["node"]: r["label"]
        for r in graph.label_propagation(rev, rounds=rounds).collect()
    }
    release_persisted()
    assert got == got_rev

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v, nbrs in adj.items():
            cnt = Counter(labels[n] for n in nbrs)
            best = max(cnt.values())
            nxt[v] = min(l for l, c in cnt.items() if c == best)
        labels = nxt
    assert got == labels


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=20
    ),
    seeds=st.sets(st.integers(0, 9), min_size=1, max_size=3),
    hops=st.integers(0, 3),
)
@PROP
def test_khop_reach_matches_bfs(spark, edges, seeds, hops):
    """Distributed k-hop reach must equal a sequential BFS truncated at
    ``hops`` — every reached node at its MINIMAL distance, seeds always
    present at 0 even when absent from the graph."""
    from duckdb_dbt_finance_warehouse_spark.operators import graph
    from duckdb_dbt_finance_warehouse_spark.state import release_persisted

    e = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["dist"]
        for r in graph.khop_reach(e, sdf, hops=hops).collect()
    }
    release_persisted()

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seeds}
    frontier = set(seeds)
    for k in range(1, hops + 1):
        nxt = set()
        for v in frontier:
            for n in adj.get(v, ()):
                if n not in want:
                    nxt.add(n)
        for n in nxt:
            want[n] = k
        frontier = nxt
    assert got == want
