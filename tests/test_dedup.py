"""Dedup operators: exact, last-writer-wins, MinHash-LSH, n-gram Jaccard,
SimHash (SURVEY §2.5 + LLM extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators import bounded, dedup

DOC = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
FAR = "completely different words about spark engines and columnar execution plans"


def _docs(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, NEAR), (3, FAR), (4, DOC)], ["doc_id", "text"]
    )


def test_exact_dedup(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    assert dedup.exact_dedup(df).count() == 2
    assert dedup.exact_dedup(df, ["v"]).count() == 2


def test_lww_dedup_last_wins_and_idempotent(spark):
    rows = [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = dedup.lww_dedup(df, ["k"], [F.col("ts").desc()])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "only"}
    # idempotence: applying twice == once (D3 upsert contract)
    again = dedup.lww_dedup(out, ["k"], [F.col("ts").desc()])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_minhash_identical_docs_share_signature(spark):
    sigs = dedup.minhash_signatures(_docs(spark), "doc_id", "text", num_hashes=4)
    by_id = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(4)) for r in sigs.collect()}
    assert by_id[1] == by_id[4]          # identical text -> identical signature
    assert by_id[1] != by_id[3]          # unrelated text -> different


def test_lsh_catches_exact_and_near_dups(spark):
    sigs = dedup.minhash_signatures(_docs(spark), "doc_id", "text", num_hashes=8)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id", 8, 4).collect()
    }
    assert (1, 4) in pairs               # exact dup always collides in every band
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_scores(spark):
    out = dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", 3, threshold=0.2)
    scores = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    assert scores[(1, 4)] == 1.0
    assert 0.5 < scores[(1, 2)] < 1.0    # one-word change -> high but <1
    assert not any(3 in k for k in scores)


def test_simhash_near_pairs_complete_vs_bruteforce(spark):
    """Pigeonhole banding must find exactly the brute-force pair set."""
    rows = [(i, t) for i, t in enumerate([DOC, NEAR, FAR, DOC, "one two three four five six seven"])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = dedup.simhash(df, "doc_id", "text", bits=16)
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_near_pairs(fp, bits=16, bands=4, max_hamming=3).collect()
    }
    brute = fp.alias("a").crossJoin(fp.alias("b")).where(F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        dedup.hamming_dist(F.col("a.simhash"), F.col("b.simhash")).alias("h"),
    )
    expected = {(r["doc_a"], r["doc_b"], r["h"]) for r in brute.collect() if r["h"] <= 3}
    assert banded == expected and (0, 3, 0) in banded  # identical docs pair at distance 0


def test_simhash_hamming(spark):
    fp = dedup.simhash(_docs(spark), "doc_id", "text", bits=16)
    j = fp.alias("a").crossJoin(fp.alias("b")).select(
        F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
        dedup.hamming_dist(F.col("a.simhash"), F.col("b.simhash")).alias("h"),
    )
    h = {(r["ia"], r["ib"]): r["h"] for r in j.collect()}
    assert h[(1, 4)] == 0                        # identical
    assert h[(1, 2)] <= h[(1, 3)]                # near-dup at most as far as unrelated
    assert h[(1, 2)] < 8                         # near-dup is close in hamming space


def test_connected_components_chain_and_clique(spark, monkeypatch):
    # graph: chain 1-2-3 (transitive, never directly paired 1-3),
    # clique 10-11-12, isolated pair 20-21; node 99 absent from any pair.
    # Run BOTH execution paths: the default size-gated driver union-find
    # AND the distributed loop (forced with a zero driver row bound) — the
    # gate must never let the two diverge.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    for bound in (bounded.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", bound)
        labels = {
            r["node"]: r["lbl"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert labels == want, f"DRIVER_MAX_ROWS={bound}"


def test_connected_components_null_endpoint_parity(spark, monkeypatch):
    """A NULL endpoint must behave identically on both paths: it joins
    nothing in the distributed loop (equi-joins drop NULL keys), so it
    surfaces as its own (NULL, NULL) row and its partner keeps a
    self-label — the driver union-find replays exactly that instead of
    raising on a None comparison (round-11 review finding)."""
    pairs = spark.createDataFrame(
        [(None, 7), (1, 2)],
        schema="doc_a bigint, doc_b bigint",
    )
    want = {None: None, 7: 7, 1: 1, 2: 1}
    for bound in (bounded.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", bound)
        labels = {
            r["node"]: r["lbl"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert labels == want, f"DRIVER_MAX_ROWS={bound}"


def test_connected_components_long_chain_converges(spark, monkeypatch):
    # a 12-node chain needs ~log-diameter rounds of min propagation;
    # reversed edge order must not matter.  Forced onto the DISTRIBUTED
    # loop (zero driver row bound): the chain is the worst case for the
    # pointer-doubling convergence (and the fused __chg check) that the
    # driver fast path would otherwise hide.
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 12)], ["doc_a", "doc_b"]
    )
    labels = {
        r["node"]: r["lbl"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert set(labels) == set(range(1, 13))
    assert set(labels.values()) == {1}


def test_connected_components_random_graphs_match_union_find(spark, monkeypatch):
    """Property check vs a driver-side union-find on random graphs."""
    import random

    def union_find_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    default_bound = bounded.DRIVER_MAX_ROWS
    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(4, 28)
        m = rng.randint(1, 40)
        edges = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        expected = union_find_labels(edges)
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        # alternate execution paths across trials: even trials take the
        # driver fast path, odd trials force the distributed loop — both
        # must match the reference union-find exactly
        bound = default_bound if trial % 2 == 0 else 0
        monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", bound)
        got = {
            r["node"]: r["lbl"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == expected, f"trial {trial} (DRIVER_MAX_ROWS={bound}): {sorted(edges)}"


def test_containment_catches_quote_that_jaccard_misses(spark):
    """A short doc pasted inside a long one: containment 1.0, Jaccard tiny —
    the asymmetric operator must flag it while the symmetric one (at any
    reasonable threshold) does not."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(200))
    long_doc = filler + " " + short + " " + " ".join(f"v{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id long, text string"
    )
    got = dedup.containment_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.9, max_df=None
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_a_in_b"] == 1.0       # every shingle of the quote is in the host
    assert r["containment_b_in_a"] < 0.02       # host is NOT contained in the quote
    jac = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.2
    ).collect()
    assert jac == []  # symmetric Jaccard never surfaces the pair


def test_distinct_row_count_matches_drop_duplicates(spark):
    rows = [
        (1, "a", 1.5),
        (1, "a", 1.5),      # exact duplicate
        (1, "a", 2.5),      # differs in one column
        (2, None, 1.5),     # NULL participates in row identity
        (2, None, 1.5),     # duplicate of the NULL row
        (3, "b", None),
    ]
    df = spark.createDataFrame(rows, "k: int, s: string, v: double")
    got = dedup.distinct_row_count(df).collect()[0]["n_rows"]
    assert got == df.dropDuplicates().count() == 4
    # subset form mirrors dropDuplicates(subset)
    got_k = dedup.distinct_row_count(df, ["k"]).collect()[0]["n_rows"]
    assert got_k == df.dropDuplicates(["k"]).count() == 3


def test_distinct_row_count_no_duplicates(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS b")
    assert dedup.distinct_row_count(df).collect()[0]["n_rows"] == 100
