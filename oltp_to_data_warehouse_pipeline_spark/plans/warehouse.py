"""Star-schema warehouse builders — the `DB.sql` surface, Spark-first.

Reference: `DB.sql:2-8` (Transaction_dim), `:27-34` (Customer_dim), `:54-102`
(dim_date), `:109-124` (star-join analytic query), plus the fact build with a
surrogate key (`spark_etl.py:140-141`, fixed per SURVEY.md §2.10 B5: the
surrogate is a *stable* hash/row_number, not monotonically_increasing_id).

On the driver's TPC-H-ish fixtures the role mapping is (FIXTURES.md §A):
``orders`` = fact source, ``customer``/``nation``/``region`` = dimensions,
``lineitem`` = bank-statement-style transactions.

Scale posture: dim builders are pure projections (narrow, no shuffle);
the fact build's surrogate key uses ``xxhash64`` over the natural key
(deterministic, partition-independent — safe on 1000 executors, unlike
row_number over an unordered frame); the session's broadcast threshold
broadcasts the dims in the star joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from oltp_to_data_warehouse_pipeline_spark.functions import dates


def build_dim_date(df: DataFrame, date_col: str, entity_col: str | None = None) -> DataFrame:
    """dim_date per `DB.sql:54-102`: one row per (date key[, entity]).

    The reference keys dim_date by (loan_date_id, customer_id); pass
    ``entity_col`` to reproduce that, or None for a pure calendar dim.
    Distinct-first keeps the shuffle small (distinct dates ≪ fact rows).
    """
    keys = [date_col] + ([entity_col] if entity_col else [])
    distinct = df.select(*keys).where(F.col(date_col).isNotNull()).distinct()
    parts = dates.date_parts(date_col)
    out = distinct.withColumn("date_id", dates.date_key(date_col))
    out = out.withColumns(parts)
    cols = ["date_id"] + ([entity_col] if entity_col else []) + list(parts.keys())
    return out.select(*cols)


def build_customer_dim(customer: DataFrame) -> DataFrame:
    """Customer_dim analog (`DB.sql:37-45`): narrow projection + cast."""
    return customer.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_nationkey").cast("int").alias("nation_id"),
        F.col("c_acctbal").cast("double").alias("account_balance"),
        F.col("c_mktsegment").alias("segment"),
    )


def build_transaction_dim(lineitem: DataFrame) -> DataFrame:
    """Transaction_dim analog (`DB.sql:11-18`): project + cast + abs-amount.

    lineitem plays Customer_Bank_Statement_data; the derived
    ``amount_updated`` is the reference's `Transaction_amt_updated`
    (abs-normalized, `spark_etl.py:47-54`).
    """
    return lineitem.select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("transaction_id"),
        F.to_date("l_shipdate").alias("transaction_date"),
        F.col("l_extendedprice").cast("double").alias("transaction_amount"),
        F.abs(F.col("l_extendedprice")).cast("double").alias("amount_updated"),
        F.col("l_returnflag").alias("narration"),
    )


def build_fact(orders: DataFrame) -> DataFrame:
    """Loan_facts analog: stable surrogate key + FK projection.

    `spark_etl.py:141` used monotonically_increasing_id (unstable across
    runs, B5); here ``fact_id = xxhash64(natural key)`` — deterministic under
    repartitioning/retries, collision odds ~n²/2⁶⁴ (fine below ~10¹⁰ rows;
    at larger scale switch to the 128-bit variant via two salted hashes).
    """
    return orders.select(
        F.xxhash64(F.col("o_orderkey")).alias("fact_id"),
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("order_date"),
        dates.date_key("o_orderdate").alias("date_id"),
        F.col("o_totalprice").cast("double").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )


def star_join(
    fact: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """J1 — the reference's 3-way star join (`DB.sql:109-124`), widened to the
    fixture's dim chain.  The dims sit under the session's broadcast
    threshold, so the planner broadcasts them and the fact table never
    shuffles (tests/test_warehouse.py pins the plan).
    """
    return (
        fact.join(customer, fact["customer_id"] == customer["customer_id"], "inner")
        .drop(customer["customer_id"])
        .join(nation, F.col("nation_id") == nation["n_nationkey"], "inner")
        .join(region, F.col("n_regionkey") == region["r_regionkey"], "inner")
    )
