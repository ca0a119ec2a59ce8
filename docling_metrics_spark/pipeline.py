"""The flagship pipeline: extract → verify → score → aggregate.

Dataflow (all narrow until the final aggregation — zero shuffles before the
agg, which is the 100 TB design point):

    documents(doc_id, spans, raw_html, pred_spans, gt_boxes, pred_boxes)
      │  pred text/tables pruned JVM-side       [filter/transform/array_join]
      │  flagship_doc_udf: extract + text       [ONE fused Arrow UDF, narrow]
      │    + TEDS + mAP-core in one crossing
      ├─ extracted == spans                     [JVM array<struct> equality]
      └─ salted two-stage aggregation           [the only shuffle]

Prediction span text is concatenated JVM-side (filter + transform +
array_join on the spans array) so only the strings the kernels need cross
the Arrow boundary — nested-column pruning by construction. Extraction and
the three metric families are fused into a single pandas UDF: same per-doc
kernel work, one Arrow crossing and one Python worker pool instead of the
previous two chained ArrowEvalPython stages (Spark already co-evaluated
the three independent scoring UDFs in one node; the real savings are the
extract→score dependency chain and the extracted span array, which
previously crossed the boundary twice — out for the JVM equality check,
back in as derived text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_metrics_spark.operators.skew import salted_agg
from docling_metrics_spark.operators.udfs import flagship_doc_udf


# Spark SQL comparator ordering span structs by ``offset`` (backticked:
# OFFSET is a keyword). The helpers below are SQL text, not Column-API
# chains: each Column-API call is one py4j round trip, and the flagship plan
# is rebuilt on every run.
_BY_OFFSET = (
    "(a, b) -> CASE WHEN a.`offset` < b.`offset` THEN -1"
    " WHEN a.`offset` > b.`offset` THEN 1 ELSE 0 END"
)


def _span_text(col: str) -> F.Column:
    """Concatenated text of non-media spans, in offset order (JVM-side)."""
    return F.expr(
        f"array_join(transform(array_sort(filter(`{col}`, s -> s.text IS NOT NULL),"
        f" {_BY_OFFSET}), s -> s.text), ' ')"
    )


def _table_htmls(col: str) -> F.Column:
    """Ordered list of table-span HTML strings (JVM-side nested pruning)."""
    return F.expr(
        f"transform(array_sort(filter(`{col}`, s -> s.kind = 'table'),"
        f" {_BY_OFFSET}), s -> s.text)"
    )


def run_pipeline(docs: DataFrame) -> DataFrame:
    """documents → per-document metric rows (narrow, shuffle-free).

    One fused Arrow UDF computes extraction + text + TEDS + mAP-core. The
    unfused plan had two chained ArrowEvalPython stages (extract, then the
    three scoring UDFs co-evaluated in one node), each with its own worker
    pool — and the extracted span array crossed the boundary twice (out
    for the equality check, back in as derived text). Prediction-side
    text/tables are still pruned JVM-side (`_span_text`/`_table_htmls` over
    ``pred_spans`` — only the strings the kernels need enter Python), and
    span-sequence equality stays a JVM-native null-safe ``<=>`` over the
    returned ``extracted`` column.

    GT side uses the *extracted* spans (the engine's own output), compared
    against the document's prediction spans — per the north rule the metric
    kernels grade extracted content; span_equal separately pins extraction
    to the reference."""
    scored = docs.withColumn(
        "r",
        flagship_doc_udf(
            "raw_html",
            _span_text("pred_spans"),
            _table_htmls("pred_spans"),
            "gt_boxes",
            "pred_boxes",
        ),
    )
    return scored.selectExpr(
        "doc_id",
        "r.extracted <=> spans AS span_equal",
        "size(spans) AS n_spans",
        "r.f1_score AS f1_score",
        "r.precision_score AS precision_score",
        "r.recall_score AS recall_score",
        "r.edit_distance_score AS edit_distance_score",
        "r.bleu_score AS bleu_score",
        "r.meteor_score AS meteor_score",
        "r.teds_mean AS teds_mean",
        "r.n_pairs AS teds_pairs",
        "r.error_count AS teds_errors",
        "r.map AS map",
        "r.map_50 AS map_50",
        "r.map_75 AS map_75",
        "r.mar_100 AS mar_100",
    )


METRIC_COLS = [
    "f1_score",
    "edit_distance_score",
    "bleu_score",
    "teds_mean",
    "map",
]


def aggregate_metrics(per_doc: DataFrame, n_salts: int = 32) -> DataFrame:
    """Dataset-level summary via salted two-stage aggregation (skew-safe)."""
    with_flags = per_doc.withColumn(
        "span_equal_int", F.col("span_equal").cast("double")
    )
    return salted_agg(
        with_flags,
        group_cols=[],
        sum_cols=["span_equal_int"] + METRIC_COLS,
        n_salts=n_salts,
    )
