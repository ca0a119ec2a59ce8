"""The traced run: per-layer numbers, named by the program's modules.

Every traced run profiles every layer, so each reports the same metric set:
the kernels in-process on the workload's own documents, the Spark layers on
its corpus, one checkpoint kill-and-resume, and the registry's headline
queries on the repository's sf0.001 test tier (cold, then warm). Spans are recorded here, around
calls into the program's public functions; the program itself is untouched.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import pandas as pd  # module-level: pandas_udf resolves type hints here
from pyspark.sql import functions as F

import oracle
import sparkside
import workloads
from tracer import Tracer

# bench.py's headline query list when this benchmark was defined.
HEADLINE = [
    "extract_spans_pipeline", "extraction_summary", "dim_join_filters",
    "order_stats_histogram", "top_revenue_orders", "top_order_per_customer",
    "token_stats_by_lang", "exact_dedup", "minhash_lsh_dedup",
    "simhash_near_dup", "embedding_topk", "token_edit_distance_pairs",
    "teds_table_pairs", "teds_cells_pairs", "layout_map", "tore_confusion",
    "markush_quality", "embedding_lsh_topk",
]
# Top-level /tmp entries that Spark and the JVM create for themselves; every
# other new entry during a pass is one of the program's intermediates.
_SPARK_TMP_PREFIXES = ("blockmgr-", "spark-", "hsperfdata_", "liblz4",
                       "snappy-", "libzstd", "jetty-")
CALIBRATION_ROWS_PER_CORE = 32
CALIBRATION_MS = 15.0
OVERHEAD_DOCS = 200
OVERHEAD_PAIRS = 3

NO_CACHE = "none: reads only the run's own corpus"


def _identity(batches):
    yield from batches


def _busy(v: pd.Series) -> pd.Series:
    for _ in range(len(v)):
        end = time.perf_counter() + CALIBRATION_MS / 1e3
        while time.perf_counter() < end:
            pass
    return v


class _NoSpans:
    """A tracer that records nothing: ``oracle.doc_row`` makes the same calls
    with it as with a :class:`Tracer`."""

    def span(self, name, **attrs):
        return nullcontext()


class Layers:
    """Collects per-layer metrics with their layer, unit and cache state."""

    def __init__(self):
        self.metrics: dict[str, dict] = {}

    def put(self, name, value, unit, cache=NO_CACHE):
        self.metrics[name] = {"value": float(value), "unit": unit,
                              "layer": name.split(".")[0], "cache": cache}


def kernel_profile(corpus: dict, tracer, L: Layers) -> dict:
    """Every document through the in-process kernels, one span per call."""
    stats: dict = {}
    rows = []
    with tracer.span("kernels.profile"):
        for doc in corpus["rows"]:
            with tracer.span("kernels.doc"):
                rows.append(oracle.doc_row(doc, tracer, stats))
    n = corpus["n_docs"]

    def ms(*names):
        return 1e3 * sum(tracer.total(x) for x in names) / n

    L.put("extraction.ms_per_doc", ms("extraction.extract_spans_from_html"), "ms")
    L.put("extraction.spans_per_doc", stats.get("spans", 0) / n, "count")
    L.put("tokenize.ms_per_doc", ms("tokenize.treebank_tokenize"), "ms")
    L.put("tokenize.tokens_per_doc", stats.get("tokens", 0) / n, "count")
    L.put("levenshtein.ms_per_doc", ms("levenshtein.normalized_edit_distance"), "ms")
    L.put("textmetrics.ms_per_doc", ms("textmetrics.evaluate_text_pair"), "ms")
    L.put("textmetrics.bleu_ms_per_doc", ms("textmetrics.bleu"), "ms")
    L.put("textmetrics.meteor_ms_per_doc", ms("textmetrics.meteor"), "ms")
    L.put("teds.parse_ms_per_doc", ms("teds.html_to_bracket"), "ms")
    L.put("teds.ted_ms_per_doc", ms("teds.teds_from_brackets"), "ms")
    pairs = stats.get("pairs", 0)
    L.put("teds.pairs_per_doc", pairs / n, "count")
    L.put("teds.nodes_per_pair", stats.get("pair_nodes", 0) / max(pairs, 1), "count")
    L.put("teds.identical_pair_frac", stats.get("identical_pairs", 0) / max(pairs, 1), "ratio")
    channels = oracle.error_channels(rows)
    L.put("teds.errors", channels["teds_errors"], "count")
    L.put("layout.map_ms_per_doc", ms("layout.evaluate_map"), "ms")
    L.put("layout.boxes_per_doc", stats.get("boxes", 0) / n, "count")
    L.put("layout.sentinels", channels["map_sentinels"], "count")
    # In-process core-seconds of exactly the work the fused flagship UDF does.
    core_s = sum(tracer.total(x) for x in (
        "extraction.extract_spans_from_html", "textmetrics.evaluate_text_pair",
        "teds.html_to_bracket", "teds.teds_from_brackets", "layout.evaluate_map"))
    return {"rows": rows, "channels": channels, "core_s": core_s}


def tracing_overhead(corpus: dict, L: Layers) -> dict:
    """The kernel pass over the first OVERHEAD_DOCS documents, where spans are
    densest, with spans recorded and without, alternating which goes first.
    ``trace.overhead_s`` is the difference of the two medians."""
    docs = corpus["rows"][:OVERHEAD_DOCS]
    walls: dict = {"traced": [], "untraced": []}
    spans = 0
    for i in range(OVERHEAD_PAIRS):
        for kind in (("traced", "untraced") if i % 2 == 0 else ("untraced", "traced")):
            tracer = Tracer("overhead") if kind == "traced" else _NoSpans()
            t0 = time.perf_counter()
            for doc in docs:
                oracle.doc_row(doc, tracer, {})
            walls[kind].append(time.perf_counter() - t0)
            if kind == "traced":
                spans = len(tracer.spans)
    L.put("trace.overhead_s", statistics.median(walls["traced"])
          - statistics.median(walls["untraced"]), "s")
    return {"docs": len(docs), "spans_per_pass": spans, "walls_s": walls}


def spark_layers(spark, corpus: dict, work: str, n_cores: int, tracer,
                 L: Layers, kernels: dict, gate) -> list[dict]:
    """Spark-side layers on the corpus; returns the per-document rows."""
    from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline

    path = corpus["path"]
    n = corpus["n_docs"]
    docs = spark.read.parquet(path)

    with tracer.span("pipeline.scan_noop") as s:
        docs.write.format("noop").mode("overwrite").save()
    L.put("pipeline.scan_s", s["end"] - s["start"], "s")

    with tracer.span("pipeline.run_pipeline_noop") as s:
        nodes = sparkside.execute_with_metrics(run_pipeline(docs))
    per_doc_s = s["end"] - s["start"]
    L.put("pipeline.per_doc_s", per_doc_s, "s")
    L.put("pipeline.kernel_reconcile", kernels["core_s"] / (per_doc_s * n_cores), "ratio")
    L.put("udfs.arrow_bytes_in_per_doc",
          sparkside.node_metric(nodes, "ArrowEvalPython", "pythonDataSent") / n, "B/doc")
    L.put("udfs.arrow_bytes_out_per_doc",
          sparkside.node_metric(nodes, "ArrowEvalPython", "pythonDataReceived") / n, "B/doc")
    L.put("udfs.python_total_s",
          sparkside.node_metric(nodes, "ArrowEvalPython", "pythonTotalTime"), "s")
    L.put("udfs.python_init_s",
          sparkside.node_metric(nodes, "ArrowEvalPython", "pythonInitTime"), "s")

    cols = docs.select("raw_html", "pred_spans", "gt_boxes", "pred_boxes")
    with tracer.span("udfs.identity_map_in_arrow") as s:
        (cols.mapInArrow(_identity, cols.schema)
         .write.format("noop").mode("overwrite").save())
    L.put("udfs.boundary_s", s["end"] - s["start"], "s")

    rows_n = CALIBRATION_ROWS_PER_CORE * n_cores
    busy = F.pandas_udf(_busy, "double")
    calib = spark.range(rows_n, numPartitions=n_cores).select(
        busy(F.col("id").cast("double")).alias("v"))
    with tracer.span("udfs.calibration"):
        cnodes = sparkside.execute_with_metrics(calib)
    known = rows_n * CALIBRATION_MS / 1e3
    L.put("udfs.python_time_calibration",
          sparkside.node_metric(cnodes, "ArrowEvalPython", "pythonTotalTime") / known,
          "ratio")

    perdoc_path = os.path.join(work, "perdoc")
    with tracer.span("pipeline.run_pipeline_materialize"):
        run_pipeline(docs).write.mode("overwrite").parquet(perdoc_path)
    perdoc = spark.read.parquet(perdoc_path)
    with tracer.span("skew.aggregate_metrics") as s:
        anodes = sparkside.execute_with_metrics(aggregate_metrics(perdoc))
    L.put("skew.agg_s", s["end"] - s["start"], "s")
    L.put("skew.shuffle_bytes",
          sparkside.node_metric(anodes, "Exchange", "shuffleBytesWritten"), "bytes")

    rows = [r.asDict() for r in perdoc.collect()]
    workloads.check_rows(gate, rows, corpus, "per_doc")
    summary = aggregate_metrics(perdoc).collect()[0].asDict()
    bad = workloads.summary_matches(summary, workloads.single_pass_summary(rows))
    gate.check("salted_summary_equals_single_pass", not bad, bad)
    by_id = {r["doc_id"]: r for r in rows}
    diff = {e["doc_id"]: oracle.row_mismatches(by_id.get(e["doc_id"], {}), e)
            for e in kernels["rows"]}
    diff = {k: v for k, v in diff.items() if v}
    gate.failed_docs |= set(diff)
    gate.check("per_doc_equals_in_process_all_docs", not diff,
               {"mismatched": len(diff)})
    spark_channels = oracle.error_channels(rows)
    gate.check("error_channels_equal_in_process",
               spark_channels == kernels["channels"],
               {"spark": spark_channels, "in_process": kernels["channels"]})
    return rows


def checkpoint_layer(spark, corpus: dict, work: str, tracer, L: Layers,
                     counts: dict, gate, reference: list[dict]) -> None:
    """One killed attempt and its resume, checked against ``reference``."""
    out_dir = os.path.join(work, "ckpt_traced")
    with sparkside.job_group(spark, "checkpoint", counts):
        with tracer.span("checkpoint.kill_and_resume"):
            r = workloads.checkpoint_op(spark, corpus, out_dir)
    gate.check("checkpoint_kill_left_half_committed",
               len(r["committed_after_kill"]) == workloads.FAIL_AFTER
               and r["resumed_buckets"] == workloads.N_BUCKETS - workloads.FAIL_AFTER,
               {"committed": len(r["committed_after_kill"]),
                "resumed": r["resumed_buckets"]})
    lin = workloads.check_resumed(spark, gate, out_dir, reference, corpus,
                                  "checkpoint_resumed")
    nbytes, nfiles = workloads.dir_bytes(out_dir)
    L.put("checkpoint.attempt_s", r["attempt_s"], "s")
    L.put("checkpoint.resume_s", r["resume_s"], "s")
    L.put("checkpoint.spark_jobs", counts["checkpoint"], "count")
    L.put("checkpoint.files_written", nfiles, "count")
    L.put("checkpoint.bytes_per_doc", nbytes / corpus["n_docs"], "B/doc")
    L.put("checkpoint.lineage_commits", len(lin), "count")
    L.put("checkpoint.recomputed_docs",
          sum(n for b, _, n in lin if b not in r["committed_after_kill"]), "count")


def _program_tmp_entries() -> set[str]:
    return {e for e in os.listdir("/tmp") if not e.startswith(_SPARK_TMP_PREFIXES)}


def _oracle_problem(con, oracles, name, cols, rows, tier) -> str | None:
    from tools.compare_oracle import value_hash

    if name in oracles:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows) or sorted(cols) != sorted(dcols) \
                or value_hash(rows, cols) != value_hash(drows, dcols):
            return f"oracle mismatch ({len(rows)} vs {len(drows)} rows)"
        return None
    # rows-only (the flagship): one row per tier document, span equality on each
    eq = cols.index("span_equal")
    if len(rows) != tier["n_docs"] or not all(r[eq] for r in rows):
        return f"rows-only: {len(rows)} rows"
    return None


def registry_layer(spark, tier: dict, tracer, L: Layers, counts: dict,
                   gate) -> dict:
    """A cold pass, then a warm pass, over the headline queries; each query's
    rows are collected and compared with its DuckDB oracle in both passes,
    and every query must return as many rows warm as cold."""
    import duckdb

    from docling_metrics_spark.plans.queries import all_oracles, all_queries
    from tools.compare_oracle import TABLES

    qs, oracles = all_queries(), all_oracles()
    sf = tier["path"]
    con = duckdb.connect()
    gate.check("registry_tier_matches_manifest", not tier["mismatched_files"],
               tier["mismatched_files"])
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    passes, failed, n_rows, tok_err = {}, {}, {}, 0
    for cache in ("cold", "warm"):
        before = _program_tmp_entries()
        with sparkside.job_group(spark, f"queries.{cache}", counts), \
                tracer.span(f"queries.{cache}_pass") as p:
            for name in HEADLINE:
                with tracer.span(f"queries.{name}", cache=cache) as s:
                    try:
                        df = qs[name](spark, sf)
                        cols, rows = df.columns, [tuple(r) for r in df.collect()]
                    except Exception as exc:  # a query that raises has failed
                        failed[name] = f"{type(exc).__name__}: {exc}"[:300]
                L.put(f"queries.{name}.{cache}_s", s["end"] - s["start"], "s",
                      cache=f"{cache}: registry pass")
                if name in failed:
                    continue
                n_rows.setdefault(name, []).append(len(rows))
                try:
                    problem = _oracle_problem(con, oracles, name, cols, rows, tier)
                except (duckdb.Error, ValueError) as exc:  # ValueError: a missing column
                    problem = f"oracle error: {exc}"[:300]
                if problem:
                    failed[name] = f"{cache}: {problem}"
                if name == "token_edit_distance_pairs" and cache == "warm":
                    i = cols.index("edit_distance_score")
                    tok_err = sum(1 for r in rows if r[i] == oracle.ERROR_SCORE)
        passes[cache] = {"wall_s": p["end"] - p["start"],
                         "built": sorted(_program_tmp_entries() - before)}
        L.put(f"queries.{cache}_s", passes[cache]["wall_s"], "s", cache=f"{cache}: registry pass")
        L.put(f"queries.{cache}_spark_jobs", counts[f"queries.{cache}"], "count",
              cache=f"{cache}: registry pass")
    con.close()
    for name, (cold, *warm) in n_rows.items():
        if warm != [cold] and name not in failed:
            failed[name] = f"row count cold {cold} vs warm {warm}"
    L.put("queries.intermediates_built", len(passes["cold"]["built"]), "count",
          cache="cold: registry pass")
    L.put("queries.tok_err", tok_err, "count", cache="warm: registry pass")
    gate.check("registry_queries_agree", not failed, failed)
    return {"failed": failed, "passes": passes}
