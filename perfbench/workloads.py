"""The end-to-end workloads and their correctness gates.

Load shape: a closed loop with one client. The benchmark process submits one
operation, waits for its result, then submits the next, until the measuring
window ends; nothing else runs on the cores.
"""

from __future__ import annotations

import os
import random
import time

import oracle
import sparkside

# name -> corpus size in documents (no giant documents in either), and the
# number of untimed operations after the untimed collect: as the JVM compiles
# them, the summary job keeps getting faster for three or four jobs and a
# killed-and-resumed checkpoint run for three (e.g. 10.0, 7.0, 5.7, 5.4 s).
WORKLOADS = {
    "flagship_uniform": {"n_docs": 1200, "warmup_ops": 3},
    "checkpoint_resume": {"n_docs": 300, "warmup_ops": 2},
}
N_BUCKETS = 4
FAIL_AFTER = 2
SAMPLE_DOCS = 24
MIN_OPS = 5


def flagship_op(spark, corpus_path: str) -> dict:
    """Parquet in, collected dataset summary out."""
    from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline

    docs = spark.read.parquet(corpus_path)
    return aggregate_metrics(run_pipeline(docs)).collect()[0].asDict()


def per_doc_rows(spark, corpus_path: str) -> list[dict]:
    from docling_metrics_spark.pipeline import run_pipeline

    return [r.asDict() for r in run_pipeline(spark.read.parquet(corpus_path)).collect()]


def checkpoint_op(spark, corpus: dict, out_dir: str) -> dict:
    """A killed attempt, then a resume, into a fresh output directory."""
    from docling_metrics_spark.checkpoint import read_checkpoint, run_checkpointed

    docs = spark.read.parquet(corpus["path"])
    t0 = time.perf_counter()
    try:
        run_checkpointed(spark, docs, out_dir, n_buckets=N_BUCKETS,
                         corpus_fingerprint=corpus["digest"],
                         fail_after_buckets=FAIL_AFTER)
    except RuntimeError as exc:
        if "injected failure" not in str(exc):
            raise
    else:
        raise AssertionError("the injected failure did not fire")
    t1 = time.perf_counter()
    committed = {r.bucket for r in read_checkpoint(spark, out_dir).collect()}
    t2 = time.perf_counter()
    resumed = run_checkpointed(spark, docs, out_dir, n_buckets=N_BUCKETS,
                               corpus_fingerprint=corpus["digest"])
    t3 = time.perf_counter()
    return {"attempt_s": t1 - t0, "resume_s": t3 - t2, "out_dir": out_dir,
            "committed_after_kill": committed, "resumed_buckets": resumed}


# ---------------------------------------------------------------------------
# Correctness gate (outside every timed region)
# ---------------------------------------------------------------------------


class Gate:
    """Named checks of one run, and the documents that failed one."""

    def __init__(self):
        self.checks: dict[str, dict] = {}
        self.failed_docs: set[str] = set()

    def check(self, name: str, ok: bool, detail=None) -> None:
        """Record a check; a check made again keeps its first failure."""
        if self.checks.get(name, {"ok": True})["ok"]:
            self.checks[name] = {"ok": bool(ok), "detail": detail}

    @property
    def correct(self) -> bool:
        return all(c["ok"] for c in self.checks.values()) and not self.failed_docs

    def failed_count(self, attempted: int, extra: int = 0) -> int:
        """Failed operations; a failed check that names no document (a wrong
        summary, a raised error) fails every operation of the run."""
        failed = len(self.failed_docs) + extra
        return failed if self.correct or failed else attempted


def check_rows(gate: Gate, rows: list[dict], corpus: dict, tag: str) -> None:
    """Every document present once, span equality true on each."""
    ids = [r["doc_id"] for r in rows]
    expected = {d["doc_id"] for d in corpus["rows"]}
    seen, dups = set(), set()
    for i in ids:
        (dups if i in seen else seen).add(i)
    missing = expected - seen
    unequal = {r["doc_id"] for r in rows if r["span_equal"] is not True}
    gate.failed_docs |= missing | dups | unequal | (seen - expected)
    gate.check(f"{tag}.row_count", len(rows) == corpus["n_docs"],
               {"rows": len(rows), "docs": corpus["n_docs"]})
    gate.check(f"{tag}.no_missing_or_duplicate", not (missing or dups),
               {"missing": len(missing), "duplicate": len(dups)})
    gate.check(f"{tag}.span_equal", not unequal, {"unequal": len(unequal)})


def single_pass_summary(rows: list[dict]) -> dict:
    from docling_metrics_spark.pipeline import METRIC_COLS

    out = {}
    for c in ["span_equal_int"] + METRIC_COLS:
        src = "span_equal" if c == "span_equal_int" else c
        vals = [float(r[src]) for r in rows if r[src] is not None]
        out.update({f"sum_{c}": sum(vals), f"cnt_{c}": len(vals),
                    f"avg_{c}": sum(vals) / len(vals) if vals else None,
                    f"min_{c}": min(vals, default=None),
                    f"max_{c}": max(vals, default=None)})
    return out


def summary_matches(summary: dict, expected: dict) -> list[str]:
    bad = []
    for k, v in expected.items():
        got = summary.get(k)
        if v is None or got is None:
            ok = v is None and got is None
        elif k.startswith(("sum_", "avg_")):
            ok = abs(got - v) <= 1e-9 * max(1.0, abs(v))
        else:
            ok = got == v
        if not ok:
            bad.append(k)
    return bad


def check_sample(gate: Gate, rows: list[dict], corpus: dict, seed: int) -> None:
    """A fixed sample of Spark rows equals the in-process kernels: document 0
    and ``SAMPLE_DOCS - 1`` more drawn from the seed."""
    rng = random.Random(seed)
    n = corpus["n_docs"]
    idx = sorted({0} | set(rng.sample(range(n), min(SAMPLE_DOCS - 1, n))))
    by_id = {r["doc_id"]: r for r in rows}
    bad = {}
    for i in idx:
        doc = corpus["rows"][i]
        got = by_id.get(doc["doc_id"])
        diff = ["missing"] if got is None else oracle.row_mismatches(
            got, oracle.doc_row(doc))
        if diff:
            bad[doc["doc_id"]] = diff
            gate.failed_docs.add(doc["doc_id"])
    gate.check("per_doc_sample_equals_in_process", not bad,
               {"sampled": len(idx), "mismatched": bad})


# ---------------------------------------------------------------------------
# Runs. Every run first collects the per-document rows, untimed: the
# correctness gate checks them, and the job takes most of the fresh JVM's
# first-job compilation (JIT). The workload's warm-up operations follow,
# untimed; then its operation runs back to back until the window ends, at
# least MIN_OPS times. The metrics use the median operation.
# ---------------------------------------------------------------------------


def _loop(deadline: float, min_ops: int, op) -> list[tuple[float, float, object]]:
    """Closed loop: run ``op`` back to back until ``deadline`` has passed
    and at least ``min_ops`` operations completed. Returns each operation's
    wall time, the host's busy CPU seconds during it, and its result."""
    results = []
    while len(results) < min_ops or time.perf_counter() < deadline:
        b0, t0 = sparkside.busy_cpu_s(), time.perf_counter()
        res = op()
        results.append((time.perf_counter() - t0, sparkside.busy_cpu_s() - b0, res))
    return results


def _measure(spark, corpus: dict, seconds: float, warmup_ops: int, window, op):
    """The per-document rows, the warm-up operations and the timed ones."""
    t0 = time.perf_counter()
    rows = per_doc_rows(spark, corpus["path"])
    collect_s = time.perf_counter() - t0
    warmup = [op() for _ in range(warmup_ops)]
    with window:
        ops = _loop(time.perf_counter() + seconds, MIN_OPS, op)
    detail = {"per_doc_collect_s": collect_s, "op_walls_s": [w for w, _, _ in ops],
              "op_busy_cpu_s": [c for _, c, _ in ops]}
    return rows, warmup + [r for _, _, r in ops], ops, detail


def run_flagship(spark, corpus: dict, seconds: float, seed: int, warmup_ops: int,
                 window) -> tuple[list, Gate, dict]:
    """Returns the timed operations (see :func:`_loop`), the gate and the
    run's details for the record."""
    rows, results, ops, detail = _measure(
        spark, corpus, seconds, warmup_ops, window,
        lambda: flagship_op(spark, corpus["path"]))
    gate = Gate()
    check_rows(gate, rows, corpus, "per_doc")
    expected = single_pass_summary(rows)
    bad = [summary_matches(s, expected) for s in results]
    gate.check("salted_summary_equals_single_pass", not any(bad),
               {"ops": len(ops), "mismatched_fields": sorted({k for b in bad for k in b})})
    check_sample(gate, rows, corpus, seed)
    detail["error_channels"] = oracle.error_channels(rows)
    return ops, gate, detail


def dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
            files += 1
    return total, files


def read_sorted_metrics(spark, out_dir: str) -> list[dict]:
    from docling_metrics_spark.checkpoint import read_metrics

    return sorted((r.asDict() for r in read_metrics(spark, out_dir).collect()),
                  key=lambda r: r["doc_id"])


def lineage(spark, out_dir: str) -> list[tuple]:
    from docling_metrics_spark.checkpoint import read_checkpoint

    return sorted((r.bucket, r.batch_id, r.n_docs)
                  for r in read_checkpoint(spark, out_dir).collect())


def run_checkpoint(spark, corpus: dict, seconds: float, seed: int,
                   warmup_ops: int, window, work: str) -> tuple[list, Gate, dict]:
    """Like :func:`run_flagship`, with a killed attempt plus its resume, into
    a fresh directory, as the operation."""
    dirs = (os.path.join(work, "ckpt", f"op{i}") for i in range(10**6))
    rows, results, ops, detail = _measure(
        spark, corpus, seconds, warmup_ops, window,
        lambda: checkpoint_op(spark, corpus, next(dirs)))
    gate = Gate()
    check_rows(gate, rows, corpus, "per_doc")
    check_sample(gate, rows, corpus, seed)
    for r in results:
        check_resumed(spark, gate, r["out_dir"], rows, corpus, "resumed")
    gate.check("kill_left_half_committed",
               all(len(r["committed_after_kill"]) == FAIL_AFTER
                   and r["resumed_buckets"] == N_BUCKETS - FAIL_AFTER
                   for r in results), None)
    nbytes, nfiles = dir_bytes(results[-1]["out_dir"])
    detail.update(attempt_s=[r["attempt_s"] for _, _, r in ops],
                  resume_s=[r["resume_s"] for _, _, r in ops],
                  bytes_per_doc=nbytes / corpus["n_docs"], files_written=nfiles,
                  error_channels=oracle.error_channels(rows))
    return ops, gate, detail


def check_resumed(spark, gate: Gate, out_dir: str, reference: list[dict],
                  corpus: dict, tag: str) -> list[tuple]:
    """Rows and lineage left by a killed-then-resumed run equal what an
    uninterrupted pipeline run computes. Returns the lineage rows."""
    resumed = read_sorted_metrics(spark, out_dir)
    check_rows(gate, resumed, corpus, tag)
    ref = {r["doc_id"]: r for r in reference}
    differ = {r["doc_id"] for r in resumed
              if any(not oracle.same_value(v, ref.get(r["doc_id"], {}).get(k))
                     for k, v in r.items() if k != "bucket")}
    gate.failed_docs |= differ
    gate.check(f"{tag}_equals_uninterrupted", not differ, {"differ": len(differ)})
    lin = lineage(spark, out_dir)
    per_bucket = {}
    for r in resumed:
        per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
    gate.check(f"{tag}_lineage_one_commit_per_bucket",
               [b for b, _, _ in lin] == list(range(N_BUCKETS))
               and all(n == per_bucket.get(b, 0) for b, _, n in lin),
               {"commits": len(lin)})
    return lin
