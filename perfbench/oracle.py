"""In-process twin of one flagship per-document row, built from the
program's public kernel functions. The correctness gate compares a fixed
sample of Spark rows with it; the traced run calls it on every document with
a span around each kernel call."""

from __future__ import annotations

import math
from contextlib import nullcontext

from docling_metrics_spark.extraction.html_extract import extract_spans_from_html
from docling_metrics_spark.kernels.layout import evaluate_map
from docling_metrics_spark.kernels.levenshtein import normalized_edit_distance
from docling_metrics_spark.kernels.teds import html_to_bracket, teds_from_brackets
from docling_metrics_spark.kernels.textmetrics import bleu, evaluate_text_pair, meteor
from docling_metrics_spark.kernels.tokenize import treebank_tokenize

SCORE_COLS = ["f1_score", "precision_score", "recall_score",
              "edit_distance_score", "bleu_score", "meteor_score",
              "teds_mean", "map", "map_50", "map_75", "mar_100"]
COUNT_COLS = ["span_equal", "n_spans", "teds_pairs", "teds_errors"]
ERROR_SCORE = -1.0


def _text(spans) -> str:
    ordered = sorted((s for s in spans if s["text"] is not None),
                     key=lambda s: s["offset"])
    return " ".join(s["text"] for s in ordered)


def _tables(spans) -> list:
    return [s["text"] for s in sorted((s for s in spans if s["kind"] == "table"),
                                      key=lambda s: s["offset"])]


def doc_row(doc: dict, tracer=None, stats: dict | None = None) -> dict:
    """Expected per-document metric row for ``doc`` (a generated document).
    With ``tracer``, each kernel call runs inside a span and the split text
    kernels (tokenize, Levenshtein, BLEU, METEOR) are timed once more on
    their own; ``stats`` accumulates work counts."""
    def sp(name):
        return tracer.span(name) if tracer else nullcontext()

    st = stats if stats is not None else {}
    with sp("extraction.extract_spans_from_html"):
        extracted = extract_spans_from_html(doc["raw_html"] or "")
    gt_text, pred_text = _text(extracted), _text(doc["pred_spans"])
    with sp("textmetrics.evaluate_text_pair"):
        text = evaluate_text_pair(gt_text, pred_text).__dict__
    if tracer:
        with sp("tokenize.treebank_tokenize"):
            ta, tb = treebank_tokenize(gt_text), treebank_tokenize(pred_text)
        with sp("levenshtein.normalized_edit_distance"):
            normalized_edit_distance(ta, tb)
        with sp("textmetrics.bleu"):
            try:
                bleu(ta, tb)
            except ValueError:
                pass
        with sp("textmetrics.meteor"):
            meteor(ta, tb)
        st["tokens"] = st.get("tokens", 0) + len(ta) + len(tb)

    gt_tables, pred_tables = _tables(extracted), _tables(doc["pred_spans"])
    brackets: dict = {}

    def bracket(html):
        if html is None:
            return None
        if html not in brackets:
            with sp("teds.html_to_bracket"):
                try:
                    brackets[html] = html_to_bracket(html)
                except ValueError:
                    brackets[html] = None
        return brackets[html]

    scores, errors = [], 0
    for i in range(max(len(gt_tables), len(pred_tables))):
        if i >= len(gt_tables) or i >= len(pred_tables):
            scores.append(0.0)
            continue
        ba, bb = bracket(gt_tables[i]), bracket(pred_tables[i])
        if ba is None or bb is None:
            scores.append(0.0)
            errors += 1
            continue
        with sp("teds.teds_from_brackets"):
            try:
                teds, na, nb = teds_from_brackets(ba, bb)
            except ValueError:
                teds, na, nb = None, 0, 0
        if teds is None:
            scores.append(0.0)
            errors += 1
            continue
        scores.append(teds)
        st["pairs"] = st.get("pairs", 0) + 1
        st["pair_nodes"] = st.get("pair_nodes", 0) + na + nb
        st["identical_pairs"] = st.get("identical_pairs", 0) + (ba == bb)

    gt = [(int(b["category_id"]), list(b["bbox"])) for b in doc["gt_boxes"]]
    pred = [(int(b["category_id"]), list(b["bbox"]), float(b["score"]))
            for b in doc["pred_boxes"]]
    with sp("layout.evaluate_map"):
        try:
            lay = evaluate_map(gt, pred, surface="core")
        except ValueError:
            lay = {k: ERROR_SCORE for k in ("map", "map_50", "map_75", "mar_100")}
    st["spans"] = st.get("spans", 0) + len(extracted)
    st["boxes"] = st.get("boxes", 0) + len(gt) + len(pred)

    row = {"doc_id": doc["doc_id"], "span_equal": extracted == doc["spans"],
           "n_spans": len(doc["spans"]),
           "teds_mean": sum(scores) / len(scores) if scores else None,
           "teds_pairs": min(len(gt_tables), len(pred_tables)),
           "teds_errors": errors}
    row.update({k: text[k] for k in SCORE_COLS[:6]})
    row.update(lay)
    return row


def same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def row_mismatches(spark_row: dict, expected: dict) -> list[str]:
    return [c for c in SCORE_COLS + COUNT_COLS
            if not same_value(spark_row.get(c), expected.get(c))]


def error_channels(rows) -> dict[str, int]:
    """Error channels of per-document rows. Malformed predicted tables show
    as TEDS errors, refused box sets as mAP sentinels, and texts the text
    kernels cannot score (e.g. an empty reference for BLEU) as -1 scores.
    These are counted, never failures."""
    return {
        "teds_errors": sum(r["teds_errors"] or 0 for r in rows),
        "map_sentinels": sum(1 for r in rows if r["map"] == ERROR_SCORE),
        "text_errors": sum(1 for r in rows
                           if ERROR_SCORE in (r["bleu_score"], r["f1_score"])),
    }
