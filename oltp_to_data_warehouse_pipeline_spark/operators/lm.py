"""Corpus-trained n-gram language-model scoring (CCNet — Wenzek et al.
2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
Crawl Data"): score every document's cross-entropy / perplexity under an
add-k-smoothed BIGRAM model trained on the corpus itself — the classic
LM-quality filter an LLM curation pipeline runs between heuristic gates
(Gopher repetition, `operators/repetition.py`) and dedup.  CCNet trains
KenLM on a reference corpus; the distributed re-expression here trains
the bigram table IN Catalyst from the corpus being scored (the common
self-scoring variant): gibberish, boilerplate-free spam and wrong-
language text all sit far above the corpus-average bits/token.

Model: p(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁·) + k·V), add-k smoothing over
vocabulary size V.  Per-doc score: cross-entropy H = −(1/n)·Σ log₂ p
over the doc's n bigrams, perplexity 2^H.

Scale shape (the round-10 discipline — shuffles never carry token
strings): bigrams are generated NARROW from the token array
(transform over sequence — no self-join), then immediately keyed by
``xxhash64`` — the count aggregations and the probability joins all
exchange 8-byte hashes, never (w₁, w₂) string pairs.  Two shuffles build
the model (bigram counts, context counts), two hash equi-joins score;
nothing is data-sized per partition beyond one document's bigrams.
Float determinism: each log₂ term is rounded to 8dp and summed in
DECIMAL(28,8) (order-independent), so both engines emit identical
4dp results — the float-sum-order trap is structurally absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.util import ensure_min_parallelism

ADD_K = 0.5


def _bigram_keys(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, k2, k1): every bigram occurrence keyed by hash — the strings
    are materialized and dropped inside the scan stage."""
    t = F.split(F.col(text_col), " ")
    base = (
        ensure_min_parallelism(df)
        .select(F.col(id_col).alias("id"), t.alias("t"), F.size(t).alias("m"))
        .where(F.col("m") >= 2)
    )
    return base.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, m - 1), "
                "i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("b"),
    ).select(
        "id",
        F.xxhash64(F.lit("lm2|"), F.col("b.w1"), F.col("b.w2")).alias("k2"),
        F.xxhash64(F.lit("lm1|"), F.col("b.w1")).alias("k1"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = ADD_K,
) -> DataFrame:
    """One row per document with ≥ 2 tokens: ``n_bigrams``,
    ``cross_entropy`` (bits/token under the corpus bigram model, 4dp) and
    ``ppl`` (2^H, 4dp).  Shorter documents have no bigram and are
    excluded — an LM score over zero events is undefined, not zero."""
    big = _bigram_keys(df, id_col, text_col)
    # Bigram counts keyed (k1, k2); context counts DERIVED from them —
    # sum of per-(k1, k2) counts per k1 IS the per-k1 occurrence count
    # (arithmetic identity, no new hashing assumption), so the c1
    # aggregation runs over the distinct-bigram relation instead of
    # re-tokenizing the corpus: one fewer full scan+explode pass, and the
    # c1 exchange carries distinct bigrams, not occurrences (round-11
    # plan audit: 4 corpus passes -> 3).
    c2 = big.groupBy("k1", "k2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("k1").agg(F.sum("c2").alias("c1"))
    vocab = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .agg(
            F.count_distinct(F.xxhash64(F.lit("lmv|"), "w")).alias("v")
        )
    )
    p = (F.col("c2") + F.lit(add_k)) / (
        F.col("c1") + F.lit(add_k) * F.col("v").cast("double")
    )
    lp = F.round(F.log2(p), 8).cast("decimal(28,8)")
    # ONE model join (the (k1, k2)-keyed model carries both counts)
    # instead of separate c2/c1 probes per occurrence.
    model = c2.join(c1, "k1")
    scored = (
        big.join(model, ["k1", "k2"])
        .crossJoin(vocab)
        .select("id", lp.alias("lp"))
    )
    h = -F.col("__s").cast("double") / F.col("n_bigrams")
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("lp").alias("__s"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            (F.round(h, 4) + F.lit(0.0)).alias("cross_entropy"),
            (F.round(F.pow(F.lit(2.0), h), 4) + F.lit(0.0)).alias("ppl"),
        )
    )


def lm_quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    slack_bits: float = 1.0,
    pin: bool = True,
) -> DataFrame:
    """The LM filter APPLIED as a corpus gate: per ``group_col``, how many
    scored documents cost more than ``slack_bits`` bits/token above the
    corpus-average cross-entropy — the CCNet tail bucket, with the
    head/tail boundary expressed as a mean offset instead of a global
    percentile (a percentile would need a data-sized global sort; the
    mean is one exact DECIMAL aggregate).

    Output: ``group, n_scored, n_tail, tail_pct, corpus_mean_h``.  The
    tail comparison runs entirely in scaled BIGINT —
    ``h·10⁴·N > ΣhS + slack·10⁴·N`` — so the boundary can never flip
    between engines on a last-ulp mean difference.
    """
    scores = bigram_lm_scores(df, id_col, text_col)
    hs = F.round(F.col("cross_entropy") * 10000, 0).cast("bigint")
    scaled = scores.select(F.col(id_col).alias("id"), hs.alias("hs"))
    # The corpus total and the per-group tail buckets both need the scored
    # relation; consumed directly, each branch replays the WHOLE scoring
    # pipeline (two full model-build+score executions — round-11 plan
    # audit).  Instead, collapse scored docs to (grp, hs) cells first —
    # bounded by |groups| x |distinct 4dp-scaled entropies|, corpus-size
    # independent — pin that bounded relation, and derive BOTH the corpus
    # total and the group aggregates from it (exact integer identities:
    # hsum = sum(hs*cnt), n = sum(cnt), per-doc tail test applied per cell
    # with multiplicity).
    # ``pin=False`` skips the barrier for callers that must build the
    # PLAN without running jobs (the SQL surface registers this view
    # lazily — even a lazy localCheckpoint executes the upstream stages
    # under AQE, kmv_sketch's pin=False precedent); the unpinned form
    # replays the scoring pipeline once per branch, exactly the
    # pre-round-11 shape.
    cells = (
        df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp"))
        .join(scaled, "id")
        .groupBy("grp", "hs")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if pin:
        cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum(F.col("hs") * F.col("cnt")).alias("hsum"),
        F.sum("cnt").alias("n"),
    )
    tagged = cells.crossJoin(tot)
    slack_scaled = int(round(slack_bits * 10000))
    is_tail = (F.col("hs") * F.col("n")) > (
        F.col("hsum") + F.lit(slack_scaled) * F.col("n")
    )
    return tagged.groupBy(F.col("grp").alias(group_col)).agg(
        F.sum("cnt").cast("bigint").alias("n_scored"),
        F.sum(F.when(is_tail, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_tail"),
        (
            F.round(
                F.lit(100.0)
                * F.sum(F.when(is_tail, F.col("cnt")).otherwise(0))
                / F.sum("cnt"),
                4,
            )
            + F.lit(0.0)
        ).alias("tail_pct"),
        (
            F.round(
                F.max("hsum") / (F.lit(10000.0) * F.max("n")), 4
            )
            + F.lit(0.0)
        ).alias("corpus_mean_h"),
    )
