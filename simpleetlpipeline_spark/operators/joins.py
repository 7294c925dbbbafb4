"""Join operators (SURVEY.md §2.4 J2-J3).

Scale notes: the per-key rollup (J2) aggregates the fact side FIRST
and joins the small aggregate back to the dimension — at 100 TB this
means one shuffle of pre-combined partial aggregates instead of
shuffling raw fact rows, and the dim-side join is then broadcastable.
The J1 star join is inline in its query (`analytics.top_products`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rollup_update(dim: DataFrame, fact: DataFrame, dim_key: str,
                  fact_key: str, count_col: str, sum_col: str,
                  count_alias: str = "total_orders",
                  sum_alias: str = "total_spent") -> DataFrame:
    """J2: the reference's correlated-subquery UPDATE, decorrelated.

    Reference (main.py:612-628) runs
      UPDATE customers SET (total_orders, total_spent) =
        (SELECT COUNT(...), COALESCE(SUM(...), 0) FROM orders o
         WHERE o.customer_id = customers.customer_id AND ...)
    Spark tables are immutable, so this becomes: aggregate the fact
    by key (map-side partial agg -> one shuffle of tiny partials),
    LEFT JOIN back to the dimension, COALESCE missing groups to 0,
    producing the rewritten dimension.
    """
    agg = fact.groupBy(F.col(fact_key).alias(dim_key)).agg(
        F.count(count_col).alias("__cnt"),
        F.sum(sum_col).alias("__sum"),
    )
    joined = dim.join(agg, on=dim_key, how="left")
    return (
        joined
        .withColumn(count_alias, F.coalesce(F.col("__cnt"), F.lit(0)))
        .withColumn(sum_alias, F.round(F.coalesce(F.col("__sum"), F.lit(0.0)), 2))
        .drop("__cnt", "__sum")
    )


def orphan_rows(child: DataFrame, parent: DataFrame,
                child_key: str, parent_key: str) -> DataFrame:
    """J3: referential-integrity anti-join.

    The reference declares FKs but never enforces them — its
    committed DB holds 372 orphan order_items (SURVEY.md §1). This
    operator makes the check explicit: child rows with no parent.
    Parent side is reduced to its key column before the join so the
    shuffle carries only keys.
    """
    parent_keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return child.join(parent_keys, on=child_key, how="left_anti")
