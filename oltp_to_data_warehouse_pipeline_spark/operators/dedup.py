"""Deduplication operators.

Reference surface (SURVEY.md §2.5): D1 exact dropDuplicates
(`spark_etl.py:61-62`), D2 distinct projection (`quality_checks.py:27-29`),
D3 last-writer-wins key dedup (`mongo_postgres_cdc.py:373-378`).

LLM-pipeline extensions: shingling, MinHash signatures + LSH banding,
n-gram Jaccard pair scoring, SimHash.  All are pure column expressions /
joins — no Python UDFs — so they run JVM-side and scale with the cluster.

Design notes for 100 TB:
- MinHash hashes each shingle ONCE (md5), folds the digest into two 48-bit
  integers, and derives the k-member hash family by double hashing
  (Kirsch–Mitzenmacher: h_i = (a + i·b) mod 2³¹-1).  One digest per shingle
  instead of k makes signature computation ~k× cheaper — at 100 TB the
  shingle hashing IS the job — while md5 keeps the family reproducible in
  any SQL engine (the DuckDB oracle folds the same hex digits), unlike
  xxhash64 whose output differs per engine.
- LSH banding turns near-dup detection into an equi-join on band keys: no
  O(n²) cross join; the shuffle is keyed by band hash, and AQE's skew-join
  splits hot buckets (e.g. boilerplate-heavy shingles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators.bounded import collect_bounded
from oltp_to_data_warehouse_pipeline_spark.util import ensure_min_parallelism


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """D1 — drop exact duplicate rows (`spark_etl.py:61-62`).

    At scale this is a hash-aggregate on all (or subset) columns; prefer a
    subset of key columns when full rows are wide.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def distinct_row_count(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact DISTINCT-row count without shuffling full rows.

    ``dropDuplicates().count()`` shuffles every column of every row; for a
    wide fact table the shuffle IO is row-width × row-count.  This operator
    is the hash-prefiltered exact formulation:

    1. aggregate ``xxhash64(*cols)`` — the shuffle carries 8-byte hashes,
       not rows (width-of-row× less IO);
    2. rows whose hash appears more than once are the only ones that CAN be
       duplicates — join them back (AQE picks a broadcast when the
       collision set is small, which it is unless the data is mostly
       duplicate) and full-row-dedup just that slice;
    3. distinct = (total − candidate rows) + distinct candidates.

    Exactness: a duplicated row always duplicates its hash, so a unique
    hash proves a unique row; hash collisions only ever ADD rows to the
    candidate slice, where the full-row dropDuplicates decides — so the
    count is exact under collisions, not probabilistic.  The total comes
    from a bare ``count(*)`` (parquet answers it from footer statistics —
    no data scan).  Returns a 1-row DataFrame (``n_rows`` BIGINT).
    """
    cols = subset if subset else df.columns
    h = F.xxhash64(*[F.col(c) for c in cols]).alias("__h")
    total = df.groupBy().agg(F.count(F.lit(1)).alias("__total"))
    dup_hashes = (
        df.select(h)
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select("__h")
    )
    cand = df.select(*cols, h).join(dup_hashes, "__h").drop("__h")
    # one pass over the candidate slice: per-distinct-row multiplicities,
    # then Σn (candidate rows) and the group count (distinct candidates)
    cand_stats = (
        cand.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy()
        .agg(F.sum("__n").alias("__n_cand"), F.count(F.lit(1)).alias("__n_dist"))
    )
    return total.crossJoin(cand_stats).select(
        (
            F.col("__total")
            - F.coalesce(F.col("__n_cand"), F.lit(0))
            + F.coalesce(F.col("__n_dist"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_rows")
    )


def lww_dedup(df: DataFrame, keys: list[str], order_cols: list[Column]) -> DataFrame:
    """D3 — last-writer-wins: keep the newest row per key.

    ``order_cols`` should be descending-sorted tiebreakers, e.g.
    ``[F.col("updated_at").desc(), F.col("seq").desc()]``.  Equivalent to the
    reference's ON CONFLICT DO UPDATE (`mongo_postgres_cdc.py:359-380`) but
    set-oriented: one shuffle on the key, then a per-partition sort.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column, as array<string>.

    Pure expression (split + transform over an index sequence; the repeated
    ``split`` subtree is eliminated by codegen subexpression elimination).
    For texts shorter than n words the single clamped slice = whole text.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(c, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return F.array_distinct(shingles)


#: Mersenne prime 2³¹-1 — the double-hashing modulus.  Signature components
#: live in [0, P); (a + i·b) stays < 2³⁵ so every intermediate fits a BIGINT
#: in both Spark and the DuckDB oracle (no overflow-semantics divergence).
MINHASH_P = 2_147_483_647


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document — NO shuffle, ONE digest per shingle.

    Each shingle is md5-hashed once; hex digits 1-12 and 17-28 fold into two
    48-bit integers (a, b), and the k-member hash family is double hashing
    h_i = (a + i·b) mod P (Kirsch–Mitzenmacher 2006 shows this preserves the
    asymptotics of k independent hashes).  sig_i = array_min over the
    document's shingle set — a narrow map with zero exchanges, identical in
    output to the explode+groupBy formulation.  Output: id + sig_0..sig_{k-1}
    (bigint).  The salted-md5-per-hash alternative measured ~3× slower at
    sf0.1 (the k-1 extra digests dominate).
    """
    out = ensure_min_parallelism(df).withColumn("__sh", word_shingles(text_col, shingle_n))

    def hex_fold(m: Column, start: int) -> Column:
        # 12 hex chars → 48-bit int.  conv() parses unsigned hex; 48 bits is
        # far below BIGINT range, so the cast is exact in any engine.
        return F.conv(F.substring(m, start, 12), 16, 10).cast("bigint") % MINHASH_P

    # md5 once per shingle (outer transform), then the (a, b) pair; the
    # per-i rehash below touches only these two ints.
    ab = F.transform(
        F.transform(F.col("__sh"), F.md5),
        lambda m: F.struct(hex_fold(m, 1).alias("a"), hex_fold(m, 17).alias("b")),
    )
    out = out.withColumn("__ab", ab)
    sigs = [
        F.array_min(
            F.transform(F.col("__ab"), lambda x: (x["a"] + F.lit(i) * x["b"]) % MINHASH_P)
        ).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return out.select(F.col(id_col), *sigs)


def minhash_band_keys(
    sigs: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """``(doc, band, key)`` band keys from a :func:`minhash_signatures`
    relation — rows_per_band = num_hashes / bands, key = md5 over the
    band's signature components.  Shared by the inline candidate join and
    the persisted index (operators/lshindex.py), so both derive
    bit-identical keys from the same signature."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("key")))
    return sigs.select(F.col(id_col).alias("doc"), F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Band the signature and self-join on band keys → candidate pairs.

    rows_per_band = num_hashes / bands.  Pairs are (a < b), distinct.
    The join is an equi-join on (band_idx, band_key): shuffle-partitioned,
    no cross join anywhere.
    """
    banded = minhash_band_keys(sigs, id_col, num_hashes, bands)
    # Bucket-expand instead of self-join: group the docs of each (band, key)
    # bucket (ONE shuffle — the signatures are derived once, no cached
    # intermediate, no second scan) and expand a<b pairs as array
    # expressions; dedup across bands with a final distinct.
    buckets = banded.groupBy("band", "key").agg(
        F.sort_array(F.collect_set("doc")).alias("ds")
    )
    return (
        buckets.where(F.size("ds") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "b -> struct(a as doc_a, b as doc_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Inverted-index formulation with expression-level pair expansion: group
    postings per shingle (ONE shuffle), expand each posting list into its
    a<b pairs with array expressions, then aggregate intersections per pair
    (second shuffle).  Equivalent output to the posting self-join, but with
    one fewer exchange, no double-scan of the corpus, and no cached
    intermediate.  Cost ∝ Σ df² over shingles — bounded by shingle
    frequency, not n².

    ``max_df``: stop-shingle cap for 100 TB inputs — shingles appearing in
    more than ``max_df`` docs (boilerplate) are dropped before expansion,
    which both bounds the per-shingle posting list held in memory and the
    df² blow-up.  None = exact (the oracle-checked configuration).
    """
    agg = _posting_pair_counts(df, id_col, text_col, shingle_n, max_df)
    return (
        agg.withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _posting_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index core of the pairwise set-overlap family:
    (doc_a, doc_b, inter, n_a, n_b) for every pair sharing ≥1 (uncapped)
    shingle.  Jaccard and containment are just different score projections
    over this relation — single-sourced so a cap/expansion fix cannot
    desynchronize them (round-3 review finding).

    Shingle arrays are already distinct per doc -> exploded rows are unique
    without any dedup shuffle.  The set size rides along with every posting
    (one extra int per row) so |A| and |B| arrive with the counted pairs
    and no extra join against a sizes relation is needed.  Postings group
    on xxhash64(shingle), not the string: the shuffle carries 8-byte longs
    instead of ~25-byte text (collision odds across distinct shingles
    ~ n²/2⁶⁵ — negligible vs any sampling error).

    Plan shape: n_sh is computed in a codegen Project (whole-stage), and
    the SAME shingle expression is re-stated inline inside explode() so it
    lives in the Generate node.  Never materialize the shingle array in a
    child projection and explode the column — Generate over a projected
    array column serializes every per-doc array to an UnsafeRow first,
    which measured 5x slower than re-evaluating the expression (sf0.1:
    1.6s -> 0.3s).
    """
    shingles = word_shingles(text_col, shingle_n)
    sh = (
        ensure_min_parallelism(df)
        .select(F.col(id_col).alias("doc"), F.size(shingles).alias("n_sh"), F.col(text_col))
        .select("doc", "n_sh", F.explode(shingles).alias("__s"))
        .select("doc", "n_sh", F.xxhash64("__s").alias("sh"))
    )
    lists = sh.groupBy("sh").agg(
        F.sort_array(F.collect_list(F.struct("doc", "n_sh"))).alias("ps")
    )
    lists = lists.where(F.size("ps") > 1)
    if max_df is not None:
        lists = lists.where(F.size("ps") <= max_df)
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps) - i - 1), "
                "b -> struct(a.doc as doc_a, a.n_sh as n_a, b.doc as doc_b, b.n_sh as n_b))))"
            )
        ).alias("p")
    ).select("p.*")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("inter"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 20,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| in both
    directions per pair — catches "document A is quoted/embedded inside
    document B", which symmetric Jaccard misses (a 50-token doc fully
    contained in a 5000-token doc has Jaccard ≈ 0.01 but containment 1.0).
    Pairs pass when EITHER direction reaches ``threshold``.

    Same inverted-index economics as :func:`ngram_jaccard_pairs` — both
    are score projections over the shared :func:`_posting_pair_counts`
    relation (one posting shuffle on 8-byte shingle hashes,
    expression-level a<b pair expansion, Σdf² bound, ``max_df``
    boilerplate cap — with the cap the scores are lower bounds).
    Output: doc_a, doc_b, containment_a_in_b, containment_b_in_a
    (rounded 4).
    """
    agg = _posting_pair_counts(df, id_col, text_col, shingle_n, max_df)
    c_ab = F.col("inter") / F.col("n_a")
    c_ba = F.col("inter") / F.col("n_b")
    return (
        agg.where(F.greatest(c_ab, c_ba) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 4).alias("containment_a_in_b"),
            F.round(c_ba, 4).alias("containment_b_in_a"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over word tokens (default 16 bits).

    Bit b of a token's hash = parity of hex digit b+1 of md5(token) — a
    uniform bit that every SQL engine computes identically (md5 + substring),
    so fingerprints are reproducible across Spark and the DuckDB oracle.
    Each token contributes +1/-1 per bit; the sign vector is the
    fingerprint.  Pure expressions (transform + aggregate over the token
    array) — narrow map, no shuffle.
    """
    odd = "('1','3','5','7','9','b','d','f')"
    # Single pass: md5 once per token, then one aggregate accumulating all
    # per-bit counts as an int array, then fold counts -> fingerprint.
    # (The naive form — one full-text aggregate per bit — does `bits`×
    # the hashing work; at 100 TB that's the whole job.)
    md5s = f"transform(split({text_col}, ' '), x -> md5(x))"
    bit_vec = f"transform(sequence(1, {bits}), b -> CASE WHEN substring(m, b, 1) IN {odd} THEN 1 ELSE -1 END)"
    counts = (
        f"aggregate({md5s}, array_repeat(0, {bits}), "
        f"(acc, m) -> zip_with(acc, {bit_vec}, (a, v) -> a + v))"
    )
    weights = f"transform(sequence(0, {bits - 1}), b -> cast(shiftleft(1L, b) as bigint))"
    sim = F.expr(
        f"aggregate(zip_with({counts}, {weights}, (c, p) -> CASE WHEN c > 0 THEN p ELSE 0L END), "
        f"0L, (acc, v) -> acc + v)"
    ).cast("bigint").alias("simhash")
    return ensure_min_parallelism(df).select(F.col(id_col), sim)


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-dup pairs into components: (node, cluster_id) where
    cluster_id = min node id reachable through the pair graph.

    This is the step that turns pairwise near-dup detection into actual
    dedup — each cluster keeps one canonical representative (its min id).
    Each round does min-label propagation along edges (every node takes
    the min of its own and its neighbors' labels) PLUS a pointer-doubling
    hop (every node also adopts its current label's own label), so label
    chains compress geometrically and convergence is O(log diameter)
    rounds instead of O(diameter) — on the sf0.1 cosine graph (τ=0.4,
    long chains) this took the registered `semantic_dedup_clusters` from
    ~19 propagation rounds to 6.  Each round is two shuffle joins + one
    hash aggregate over the LABEL relation (edge-set-sized work, never
    n²), and ``localCheckpoint`` truncates the lineage so plan size stays
    O(1) across iterations (at 1000 executors the alternative — a 25-deep
    nested plan — stalls the driver, not the cluster).

    Small graphs short-circuit to a driver union-find: a near-dup edge
    set is usually orders of magnitude smaller than the corpus (it IS
    the duplication mass), and each distributed round costs several
    jobs' fixed overhead regardless of size — measured 4.6 s for a
    920-edge graph at sf0.1 vs ~0.1 s in the driver.  The distinct edge
    set is collected under the shared driver bound
    (:func:`operators.bounded.collect_bounded`); graphs past the bound
    are pinned and take the distributed loop unchanged.  Both paths
    produce the identical (node, min-reachable-id) relation —
    tests/test_dedup.py property-checks them against each other.
    """
    sym = pairs.select(F.col(a).alias("s"), F.col(b).alias("d")).union(
        pairs.select(F.col(b).alias("s"), F.col(a).alias("d"))
    )
    edge_rows = collect_bounded(sym.distinct())
    if edge_rows is not None:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        has_null = False
        for s, d in edge_rows:
            if s is None or d is None:
                # parity with the distributed loop: a NULL endpoint never
                # matches a join key, so it neither receives nor donates
                # labels — it surfaces as its own (NULL, NULL) row while
                # the non-null endpoint keeps its self-label
                has_null = True
                for x in (s, d):
                    if x is not None:
                        find(x)
                continue
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[max(rs, rd)] = min(rs, rd)  # union by min id
        rows = [(n, find(n)) for n in parent]
        if has_null:
            rows.append((None, None))
        spark = pairs.sparkSession
        from pyspark.sql import types as T

        node_t = sym.schema["s"].dataType
        schema = T.StructType(
            [T.StructField("node", node_t), T.StructField("lbl", node_t)]
        )
        return spark.createDataFrame(rows, schema)
    edges = sym.distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("s").alias("node")).distinct().withColumn("lbl", F.col("node"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(neigh, "node", "left").select(
            "node",
            F.col("lbl").alias("__old"),
            F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
        )
        # pointer doubling: hop to the label's own label (path compression)
        parent_rel = labels.select(
            F.col("node").alias("__pn"), F.col("lbl").alias("__pl")
        )
        hop = F.least("lbl", F.coalesce("__pl", "lbl"))
        new_labels = (
            stepped.join(parent_rel, stepped["lbl"] == parent_rel["__pn"], "left")
            .select(
                "node",
                hop.alias("lbl"),
                # convergence flag computed IN the materialization job, so
                # the check below filters cached blocks instead of paying
                # a join job per round (round-11: halves the loop's job
                # count)
                (hop < F.col("__old")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where("__chg").take(1)
        labels = new_labels.select("node", "lbl")
        if not changed:
            break
    return labels


def hamming_dist(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two simhash fingerprints (bit_count of XOR)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs within ``max_hamming`` of each other, WITHOUT a cross join.

    Pigeonhole candidate generation: split the fingerprint into ``bands``
    chunks; any pair with ≤ ``bands - 1`` differing bits shares at least one
    identical chunk, so an equi-join on (chunk_idx, chunk_value) is a
    complete candidate set for ``max_hamming ≤ bands - 1``.  Exact Hamming
    filter afterwards.  This is the formulation that scales (shuffle on
    chunk values, no n²).
    """
    if max_hamming > bands - 1:
        raise ValueError("completeness requires max_hamming <= bands - 1 (pigeonhole)")
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("idx"),
                F.expr(f"({sim_col} div {1 << (i * chunk_bits)}) % {mask + 1}").alias("val"),
            )
            for i in range(bands)
        ]
    )
    exploded = fingerprints.select(
        F.col(id_col).alias("doc"), F.col(sim_col).alias("h"), F.explode(chunks).alias("c")
    ).select("doc", "h", F.col("c.idx").alias("idx"), F.col("c.val").alias("val"))
    # Bucket-expand (one shuffle, no self-join, no cached intermediate):
    # group each chunk bucket's (doc, fingerprint) postings, expand a<b
    # pairs with the exact Hamming distance computed in-expression, then
    # dedup pairs that collide in several chunks.
    buckets = exploded.groupBy("idx", "val").agg(
        F.sort_array(F.collect_set(F.struct("doc", "h"))).alias("ps")
    )
    return (
        buckets.where(F.size("ps") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "b -> struct(a.doc as doc_a, b.doc as doc_b, "
                    "bit_count(a.h ^ b.h) as hamming))))"
                )
            ).alias("p")
        )
        .select("p.*")
        # filter BEFORE distinct: the dedup shuffle then carries only
        # surviving pairs (hamming is deterministic per pair, so filtering
        # first cannot change the distinct result)
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    sim_bits: int = 16,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    SIGMOD'95) with exact-Jaccard verification — the third candidate-
    generation strategy beside LSH banding and the prefix-filter SSJoin:
    sort the corpus by a locality-preserving key (SimHash fingerprint,
    doc id tiebreak), compare each doc only to its ``window`` successors
    in that order, and keep pairs whose EXACT ``shingle_n``-gram Jaccard
    reaches ``threshold``.

    Candidate count is EXACTLY n·window — linear by construction, no df
    caps or band tuning — at the price of RECALL: a qualifying pair
    separated by more than ``window`` ranks (coarse fingerprint ties
    interleaving other docs between them) is missed.  Precision is 1 by
    construction (every emitted pair carries its verified exact Jaccard).
    The standard mitigation at scale is multiple passes with different
    sort keys; one pass is the primitive.

    Scale shape: the global sort rank comes from
    :func:`operators.ordered.global_order_stats` (equal-depth bands +
    a ≤ n_bands-row offset relation — no data-sized single-partition
    window); the neighbor join is a rank-keyed equi-join after a
    bounded ``window``× explode of (id, rank) tuples; verification
    joins shingle arrays for candidate rows only.
    """
    from oltp_to_data_warehouse_pipeline_spark.operators import ordered

    # NULL text → NULL token array → NULL fingerprint, which sorts NULLS
    # FIRST here but evaluates to 0 in a per-bit CASE oracle (every bit
    # term is false → 0) — different global ranks, different candidate
    # windows (round-8 advisor finding, latent until a NULL-text corpus).
    # Pin the fingerprint to 0 so both engines rank NULL-text docs
    # identically; verification below still drops their pairs (no
    # shingles), matching the oracle's inner join on the shingle relation.
    fp = simhash(df, id_col, text_col, bits=sim_bits).withColumn(
        "simhash", F.coalesce(F.col("simhash"), F.lit(0).cast("bigint"))
    )
    ranked = ordered.global_order_stats(
        fp, F.col("simhash"), [F.col(id_col)], rank_col="__rk"
    )
    left = ranked.select(F.col(id_col).alias("__ida"), "__rk").withColumn(
        "__tgt",
        F.explode(
            F.sequence(F.col("__rk") + 1, F.col("__rk") + F.lit(window))
        ),
    )
    right = ranked.select(
        F.col(id_col).alias("__idb"), F.col("__rk").alias("__tgt")
    )
    cand = left.join(right, "__tgt").select(
        F.least("__ida", "__idb").alias("doc_a"),
        F.greatest("__ida", "__idb").alias("doc_b"),
    )
    # verify over 8-byte shingle hashes, not shingle strings: the arrays
    # ride the candidate join, and ~25-byte shingle text would dominate
    # its exchange (the setjoin hash-key precedent; cross-shingle
    # collision odds ~n²/2⁶⁵ — the oracle counts the strings and the
    # differential gate would surface a colliding corpus).  array_distinct
    # AFTER hashing keeps set semantics exact even under a within-doc
    # collision (size() would count the colliding pair twice while
    # array_intersect dedups — round-8 advisor finding).  NULL-text docs
    # are excluded BEFORE shingling: concat_ws folds a NULL token array to
    # [''] (a phantom shingle that would score NULL–NULL pairs jaccard
    # 1.0), while the oracle's unnest emits no rows for them — the filter
    # reproduces the oracle's inner-join elimination.
    sh = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"),
        F.array_distinct(
            F.transform(
                word_shingles(text_col, shingle_n), lambda s: F.xxhash64(s)
            )
        ).alias("__sh"),
    )
    a = sh.select(
        F.col("__doc").alias("doc_a"), F.col("__sh").alias("__sha")
    )
    b = sh.select(
        F.col("__doc").alias("doc_b"), F.col("__sh").alias("__shb")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(jac >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            (F.round(jac, 4) + F.lit(0.0)).alias("jaccard"),
        )
    )
