"""Unit pins for the second-amendment operators: label propagation,
k-hop BFS reach, and URL canonicalization — hand-computed expectations
on toy inputs (the oracle pair checks engine parity; these pin the
SEMANTICS against a human-verifiable answer)."""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.operators import graph, url

from .png_oracle import decode_png, encode_png


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_label_propagation_two_cliques(spark):
    # two triangles bridged by one edge: LPA labels each triangle with
    # its minimum member; the bridge endpoints see a 2-1 neighbor
    # majority from their own clique by round 3
    e = _edges(
        spark,
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
    )
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(e, rounds=3).collect()
    }
    # round 1: everyone takes min neighbor id
    # {1:2, 2:1, 3:1, 4:3, 5:4, 6:4}
    # round 2 (majority of neighbor labels, tie -> min):
    #   1: nbrs{2,3} labels{1,1} -> 1;  2: nbrs{1,3} {2,1} tie -> 1
    #   3: nbrs{1,2,4} {2,1,3} tie -> 1; 4: nbrs{3,5,6} {1,4,4} -> 4
    #   5: nbrs{4,6} {3,4} tie -> 3;    6: nbrs{4,5} {3,4} tie -> 3
    # round 3:
    #   1: {1,1} -> 1; 2: {1,1} -> 1; 3: {1,1,4} -> 1
    #   4: {1,3,3} -> 3; 5: {4,3} tie -> 3; 6: {4,3} tie -> 3
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_lpa_damped_breaks_bipartite_orbit(spark):
    """Self-vote damping (r11 VERDICT #7) on the exact fixture where
    plain synchronous LPA runs a period-2 orbit forever — the 4-cycle:
    the incumbent label's extra vote turns every would-be swap tie into
    a hold, and the graph reaches a LAG-1 fixpoint by round 2.

    Hand-derivation: R1 votes are neighbor ids + self id, all count 1,
    tie -> min: {1:1, 2:1, 3:2, 4:1}. R2: node 3 sees {1, 1} + self 2
    -> 1; everyone else holds 1. R3 == R2 — converged, where plain
    LPA flips every node every round: R2 {1:1, 2:2, 3:1, 4:2}, R3
    {1:2, 2:1, 3:2, 4:1}."""
    cyc = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    plain = [
        {r["node"]: r["label"]
         for r in graph.label_propagation(cyc, rounds=n).collect()}
        for n in (2, 3)
    ]
    assert plain == [{1: 1, 2: 2, 3: 1, 4: 2}, {1: 2, 2: 1, 3: 2, 4: 1}]
    r2 = {r["node"]: r["label"]
          for r in graph.label_propagation_damped(cyc, rounds=2).collect()}
    r3 = {r["node"]: r["label"]
          for r in graph.label_propagation_damped(cyc, rounds=3).collect()}
    assert r2 == {1: 1, 2: 1, 3: 1, 4: 1}
    assert r3 == r2  # lag-1 fixpoint, not an orbit phase

    # and on the citation graph shape (the suite entry's), successive
    # rounds must also settle lag-1 instead of full-flipping
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id"
    )
    e1 = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 37 + 11) % 1000).alias("dst")
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 91 + 3) % 1000).alias("dst")
    )
    e = e1.unionByName(e2)
    r6 = {r["node"]: r["label"]
          for r in graph.label_propagation_damped(e, rounds=6).collect()}
    r7 = {r["node"]: r["label"]
          for r in graph.label_propagation_damped(e, rounds=7).collect()}
    flips = sum(1 for n in r6 if r6[n] != r7[n])
    assert flips < 859 * 0.05, (
        f"damped LPA still flipping {flips}/859 nodes — orbit not broken"
    )


def test_label_propagation_round1_is_min_neighbor(spark):
    e = _edges(spark, [(10, 20), (20, 30)])
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(e, rounds=1).collect()
    }
    assert got == {10: 20, 20: 10, 30: 20}


def test_khop_reach_path_graph(spark):
    # path 1-2-3-4-5-6, seed {1}: dist caps at hops=3
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"] for r in graph.khop_reach(e, seeds, hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_khop_reach_seed_not_in_graph_and_min_dist(spark):
    # 99 is an isolated seed (still dist 0); 3 is reachable two ways —
    # keeps the SHORTER distance
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {
        r["node"]: r["dist"] for r in graph.khop_reach(e, seeds, hops=2).collect()
    }
    assert got == {1: 0, 99: 0, 2: 1, 3: 1}


def test_khop_reach_shuffle_fallback_identical(spark, monkeypatch):
    """Past MAX_REACH_BROADCAST the per-round joins degrade to the
    shuffle_hash form; results must be bit-identical (the routing is a
    strategy choice, never a semantics one)."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 7)])
    seeds = spark.createDataFrame([(1,)], "node long")
    want = {
        r["node"]: r["dist"] for r in graph.khop_reach(e, seeds, hops=3).collect()
    }
    monkeypatch.setattr(graph, "MAX_REACH_BROADCAST", 0)
    got = {
        r["node"]: r["dist"] for r in graph.khop_reach(e, seeds, hops=3).collect()
    }
    assert got == want == {1: 0, 2: 1, 6: 1, 3: 2, 7: 2, 4: 3}


def test_url_canonicalize_cases(spark):
    rows = [
        (0, "HTTPS://WWW.Ex.COM:443/A/Page?utm_source=x&id=1&utm_medium=y"),
        (1, "http://ex.com:80/A/Page?id=1&ref=mail"),
        (2, "https://ex.com/A/Page?id=1"),
        (3, "https://ex.com:8443/B?utm_a=1"),  # non-default port kept
        (4, "http://ex.com:443/C"),  # 443 is NOT http's default port
        (5, "http://ex.com/p?href=x&id=1"),  # 'ref' inside 'href' kept
        (6, "https://ex.com/p?xutm_a=1&utm_a=2"),  # 'utm_' needs its separator
        (7, "https://Ex.com:443?id=1&utm_a=2"),  # query with NO path
        (8, "https://ex.com/p?utm_a=1&utm_b=2&id=3"),  # consecutive tracking
        (9, "https://ex.com/p?utm_a=1&ref=x"),  # all params tracking
        # fragments survive uniformly (r10 ADVICE: '[^&]*' used to
        # swallow '#frag' after a tracking param only)
        (10, "https://ex.com/p?utm_a=1#f"),
        (11, "https://ex.com/p?id=1#f"),
        (12, "https://ex.com/p?utm_a=1&id=2#f"),
        (13, "https://ex.com/p?id=1&utm_a=2#f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = dict(
        df.select("doc_id", url.canonicalize_url(F.col("url")).alias("c"))
        .rdd.map(lambda r: (r["doc_id"], r["c"]))
        .collect()
    )
    assert got[0] == "https://ex.com/A/Page?id=1"
    assert got[1] == "http://ex.com/A/Page?id=1"
    assert got[2] == "https://ex.com/A/Page?id=1"
    assert got[3] == "https://ex.com:8443/B"
    assert got[4] == "http://ex.com:443/C"
    assert got[5] == "http://ex.com/p?href=x&id=1"
    assert got[6] == "https://ex.com/p?xutm_a=1"
    assert got[7] == "https://ex.com?id=1"
    assert got[8] == "https://ex.com/p?id=3"
    assert got[9] == "https://ex.com/p"
    assert got[10] == "https://ex.com/p#f"
    assert got[11] == "https://ex.com/p?id=1#f"
    assert got[12] == "https://ex.com/p?id=2#f"
    assert got[13] == "https://ex.com/p?id=1#f"
    # the DuckDB mirror replays the identical chain on the same inputs
    import duckdb

    con = duckdb.connect()
    expr = url.canonicalize_url_sql("url")
    for doc_id, raw in rows:
        (mirror,) = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS url)", [raw]
        ).fetchone()
        assert mirror == got[doc_id], f"id {doc_id}: {mirror} != {got[doc_id]}"
    con.close()


def test_synthesize_url_exact_past_double_range(spark):
    """doc_id div 3 must be EXACT integer division: the old
    (x - x%3)/3 double form silently diverged from DuckDB's `//`
    above 2^53 (r10 ADVICE). Pin Spark == DuckDB at huge ids."""
    import duckdb

    ids = [0, 1, 2, 3, 2**53 + 1, 2**53 + 2, 2**60 + 5, 2**62 + 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = dict(
        df.select("doc_id", url.synthesize_url(F.col("doc_id")).alias("u"))
        .rdd.map(lambda r: (r["doc_id"], r["u"]))
        .collect()
    )
    con = duckdb.connect()
    expr = url.synthesize_url_sql("doc_id")
    for i in ids:
        (mirror,) = con.execute(
            f"SELECT {expr} FROM (SELECT CAST(? AS BIGINT) AS doc_id)", [i]
        ).fetchone()
        assert mirror == got[i], f"id {i}: {mirror} != {got[i]}"
    con.close()


def test_url_dedup_flags_https_pair(spark):
    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    out = url.url_canonical_dedup(
        docs, "doc_id", url.synthesize_url(F.col("doc_id"))
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # ids 0 and 2 share one canonical https URL; 1 is the http form
    assert by_id[0]["canonical_url"] == by_id[2]["canonical_url"]
    assert by_id[1]["canonical_url"].startswith("http://")
    assert not by_id[0]["is_dup"] and by_id[2]["is_dup"]
    assert not by_id[1]["is_dup"]


def test_resize_image_accepts_custom_id_col(spark):
    """The resize kernels alias id_col -> doc_id in their select; the
    Arrow kernel must read the ALIASED name (a custom id_col used to
    KeyError at execution time)."""
    from duckdb_dbt_finance_warehouse_spark.operators import multimodal

    px = bytes(range(48))  # 4x4 RGB
    blob = encode_png(px, 4, 4, 3)
    df = spark.createDataFrame(
        [(7, blob, {"mime": "image/png", "n_bytes": len(blob), "version": 1})],
        "image_id long, payload binary, media_meta struct<mime:string,n_bytes:int,version:int>",
    )
    out = multimodal.resize_image(
        df, id_col="image_id", target_width=2, target_height=2
    ).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 7
    w, h, c, _ = decode_png(bytes(out[0]["payload"]))
    assert (w, h, c) == (2, 2, 3)
