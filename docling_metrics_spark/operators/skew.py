"""Skew handling: salted two-stage aggregation and size-bucketed salting.

At 10^12 documents, grouped aggregations over low-cardinality or skewed keys
(e.g. per-source, per-language, or the single global group) funnel into few
reducers. The fix is the classic salt → partial → final pattern — the same
partial/final split the reference uses for its TORE dataset matrix
(tore_layout_evaluator.py:224-245: per-page partials summed, metrics
recomputed on the sum).

Only algebraically decomposable aggregates belong here (sum, count, min,
max, avg = sum/count). The helpers verify nothing silently: tests assert
salted == unsalted on the same input (SURVEY.md §5 point 4).

Also provided: ``size_salt`` — a deterministic salt derived from a row's
payload size so a handful of giant documents spread over many partitions
*before* an expensive UDF stage (AQE splits skewed shuffle partitions, but
cannot split one monster row; spreading rows by size bucket balances the
Arrow batches feeding Python workers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, n_salts: int = 32, col_name: str = "_salt") -> DataFrame:
    """Uniform random-ish but deterministic salt from a stable row hash."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int")
    )


def size_salt(size_col: Column, n_salts: int = 32) -> Column:
    """Salt giant rows across partitions: rows in bigger size buckets get
    spread over proportionally more salt values."""
    bucket = F.least(F.ceil(F.log2(F.greatest(size_col, F.lit(1)) + 1)), F.lit(16))
    return F.pmod(F.xxhash64(size_col) + (F.rand(seed=42) * bucket).cast("long"),
                  F.lit(n_salts)).cast("int")


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    n_salts: int = 32,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    Stage 1 groups by (group_cols + salt) — the hot key fans out over
    ``n_salts`` reducers; stage 2 combines the partials per group key.
    Emits, for every column c in ``sum_cols``: sum_c, cnt_c (non-null
    count), avg_c, min_c, max_c — all exactly equal to their single-stage
    counterparts (decomposable algebra).

    Built as one SQL statement: the Column-API form of the same plan cost
    about 20 py4j round trips per aggregate expression, all on the driver."""
    keys = [f"`{c}`" for c in group_cols]
    salt_on = ", ".join(keys or [f"`{df.columns[0]}`"])
    partials = ", ".join(
        f"sum(`{c}`) AS `_p_sum_{c}`, count(`{c}`) AS `_p_cnt_{c}`, "
        f"min(`{c}`) AS `_p_min_{c}`, max(`{c}`) AS `_p_max_{c}`"
        for c in sum_cols
    )
    finals = ", ".join(
        f"sum(`_p_sum_{c}`) AS `sum_{c}`, sum(`_p_cnt_{c}`) AS `cnt_{c}`, "
        f"sum(`_p_sum_{c}`) / sum(`_p_cnt_{c}`) AS `avg_{c}`, "
        f"min(`_p_min_{c}`) AS `min_{c}`, max(`_p_max_{c}`) AS `max_{c}`"
        for c in sum_cols
    )
    lead = "".join(f"{k}, " for k in keys)
    regroup = f" GROUP BY {', '.join(keys)}" if keys else ""
    return df.sparkSession.sql(
        f"SELECT {lead}{finals} FROM ("
        f"SELECT {lead}`_salt`, {partials} FROM ("
        f"SELECT *, pmod(xxhash64({salt_on}, monotonically_increasing_id()),"
        f" {int(n_salts)}) AS `_salt` FROM {{df}}"
        f") GROUP BY {lead}`_salt`){regroup}",
        df=df,
    )


def salted_array_sum(
    df: DataFrame, array_col: str, n_salts: int = 32,
    with_count: bool = False,
) -> DataFrame:
    """Element-wise sum of an ARRAY<DOUBLE> column — the distributed twin of
    the reference's confusion-matrix summation (tore_layout_evaluator.py:
    224-245). Returns a single-row DataFrame with column ``summed`` (plus
    ``n_rows``, the input row count, when ``with_count`` — it rides the
    slot-sum aggregation so callers needing both pay ONE job, not a
    separate ``df.count()``).

    Shape: posexplode to (slot index, value) rows, then a plain
    ``groupBy(idx).sum(val)``. Spark's hash aggregate combines map-side, so
    every executor holds at most one double per array slot — constant memory
    regardless of row count (unlike a collect_list of whole arrays, which
    buffers N/n_salts full matrices per reducer). The ``n_salts`` argument
    is kept for API stability but is unnecessary here: the shuffle key is
    the slot index, whose cardinality equals the array length, and partial
    aggregation already fans the hot keys over all map tasks."""
    exploded = df.select(F.posexplode(array_col).alias("_idx", "_val"))
    slot_aggs = [F.sum("_val").alias("_sum")]
    if with_count:
        # every row contributes each slot exactly once, so any slot's row
        # count IS the input row count
        slot_aggs.append(F.count("*").alias("_n"))
    final_aggs = [
        F.array_sort(F.collect_list(F.struct("_idx", "_sum"))).alias("_pairs")
    ]
    if with_count:
        final_aggs.append(F.max("_n").alias("_n"))
    out_cols = [F.transform(F.col("_pairs"), lambda s: s._sum).alias("summed")]
    if with_count:
        out_cols.append(F.coalesce("_n", F.lit(0)).alias("n_rows"))
    return exploded.groupBy("_idx").agg(*slot_aggs).agg(*final_aggs).select(*out_cols)
