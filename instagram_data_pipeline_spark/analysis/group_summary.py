"""Grouped pandas UDAF (SURVEY §2.11: "UDAF via Pandas" — custom
aggregation logic on the Arrow boundary, one output row per group).

The aggregate itself is deliberately SQL-expressible (count / max /
argmax-with-tie-break / min-date) so the DuckDB oracle can verify the
pandas path end-to-end — proving the Arrow group-transfer boundary
preserves semantics, which is the risky part of any custom UDAF.

Only exact operations are used (counts, max, min, argmax): no float
summation whose order pandas would own.

r15 (guide §4.2/§4.5): the original ``groupBy().applyInPandas`` called
the Python function once PER GROUP — ~15k tiny pandas DataFrames at
sf0.1, each paying pandas construction/groupby overhead, measured 42 s.
The same aggregation now runs as ``mapInPandas`` over key-partitioned
data: ONE vectorized ``pandas.groupby().agg`` per Arrow batch, with the
per-batch partials combined at the end of the partition iterator (a
batch can split a customer, so the combine is a real map-side-style
merge: counts sum, max/min re-reduce, the priority argmax re-sorts the
summed (customer, priority) counts). Values are identical — all ops
exact — and the Arrow boundary is exercised exactly as before; 42 s ->
~1 s. ``_summarize`` (the per-group reference form) is kept for the
equality tests.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

SUMMARY_SCHEMA = (
    "o_custkey long, n_orders long, top_priority string, "
    "max_price double, first_order_us long"
)


def _summarize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference per-group form (the r14 applyInPandas body)."""
    counts = (
        pdf.groupby("o_orderpriority").size().reset_index(name="c")
        .sort_values(["c", "o_orderpriority"], ascending=[False, True])
    )
    return pd.DataFrame(
        {
            "o_custkey": [pdf["o_custkey"].iloc[0]],
            "n_orders": [len(pdf)],
            "top_priority": [counts["o_orderpriority"].iloc[0]],
            "max_price": [pdf["o_totalprice"].max()],
            "first_order_us": [int(pdf["o_orderdate"].min().value // 1000)],
        }
    )


def _summarize_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """One vectorized aggregation per Arrow batch + a final combine —
    every row of a customer is in this partition (key repartition), but
    may span several batches. NULL keys are groups, as in Spark's
    ``groupBy``; a NULL priority sorts first among equal counts."""
    pc_parts: list[pd.DataFrame] = []   # (cust, priority) partial counts
    st_parts: list[pd.DataFrame] = []   # per-cust partial max/min
    for pdf in batches:
        # Arrow hands a nullable long over as float64; keep it integral
        pdf = pdf.astype({"o_custkey": "Int64"})
        pc_parts.append(
            pdf.groupby(["o_custkey", "o_orderpriority"], sort=False,
                        dropna=False)
            .size().reset_index(name="c")
        )
        st_parts.append(
            pdf.groupby("o_custkey", sort=False, dropna=False).agg(
                n_orders=("o_orderpriority", "size"),
                max_price=("o_totalprice", "max"),
                first_ts=("o_orderdate", "min"),
            ).reset_index()
        )
    if not pc_parts:
        return
    pc = (
        pd.concat(pc_parts)
        .groupby(["o_custkey", "o_orderpriority"], sort=False, dropna=False)
        ["c"].sum().reset_index()
    )
    # argmax with the reference tie-break: count desc, priority asc
    top = (
        pc.sort_values(["c", "o_orderpriority"], ascending=[False, True],
                       na_position="first")
        .drop_duplicates("o_custkey")
        [["o_custkey", "o_orderpriority"]]
        .rename(columns={"o_orderpriority": "top_priority"})
    )
    st = (
        pd.concat(st_parts)
        .groupby("o_custkey", sort=False, dropna=False)
        .agg(
            n_orders=("n_orders", "sum"),
            max_price=("max_price", "max"),
            first_ts=("first_ts", "min"),
        ).reset_index()
    )
    out = st.merge(top, on="o_custkey", how="left")
    yield pd.DataFrame(
        {
            "o_custkey": out["o_custkey"],
            "n_orders": out["n_orders"].astype("int64"),
            "top_priority": out["top_priority"],
            "max_price": out["max_price"].astype("float64"),
            # ns explicitly (Timestamp.value in the reference form is
            # always ns), then truncate to micros
            "first_order_us": out["first_ts"].astype("datetime64[ns]")
            .astype("int64") // 1000,
        }
    )


def customer_order_summary(orders: DataFrame) -> DataFrame:
    """Per-customer order profile via iterator-of-batches pandas (one
    output row per group; guide §4.2 — vectorized native work per batch
    instead of one Python call per group)."""
    npart = orders.sparkSession.sparkContext.defaultParallelism
    return (
        orders.select(
            "o_custkey", "o_orderpriority", "o_totalprice", "o_orderdate"
        )
        .repartition(npart, "o_custkey")
        .mapInPandas(_summarize_partition, schema=SUMMARY_SCHEMA)
    )
