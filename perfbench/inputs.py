"""Benchmark inputs.

The workload corpora are generated here from ``--seed`` and written under the
run's own work directory, so a run never shares files with the program's
caches, with pytest, or with another run. The program receives only the
written parquet. Each corpus carries a digest of its generated rows (not of
the parquet bytes, which depend on the writer version), so a generator change
shows up as a new digest rather than as a speed-up. The registry queries of
the traced run read a fixed tier kept in ``data/`` (see :func:`tier`).
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

# Seeds at or above this value are never used while tuning the benchmark or
# writing a change; a claimed gain is re-checked on one of them.
HELD_OUT_SEED_MIN = 9000

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_BOX = pa.struct([("category_id", pa.int32()),
                  ("bbox", pa.list_(pa.float64())), ("score", pa.float64())])
# Mirrors datagen.DOCUMENTS_SCHEMA_DDL field for field.
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(_SPAN)),
    ("raw_html", pa.string()), ("pred_spans", pa.list_(_SPAN)),
    ("gt_boxes", pa.list_(_BOX)), ("pred_boxes", pa.list_(_BOX)),
    ("page_width", pa.int32()), ("page_height", pa.int32()),
])


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, default=str).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    """``n_files`` parquet files of consecutive documents. The benchmark
    writes one per core: Spark then reads the corpus in one task per core."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for j in range(n_files):
        lo, hi = j * n // n_files, (j + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{j:05d}.parquet"))


def write_corpus(path: str, n_docs: int, seed: int, n_files: int) -> dict:
    """Generate ``n_docs`` documents without giants (``skew_every=0``) with
    ``datagen.gen_document`` and write them as ``n_files`` parquet files.
    Returns the rows (for the in-process checks) and the corpus digest."""
    from docling_metrics_spark.datagen import gen_document

    rows = [gen_document(i, seed=seed, skew_every=0) for i in range(n_docs)]
    _write_split(pa.Table.from_pylist(rows, schema=DOCUMENTS_SCHEMA), path,
                 n_files)
    return {"path": path, "rows": rows, "n_docs": n_docs,
            "digest": _digest(rows)}


# ---------------------------------------------------------------------------
# Registry tier: the repository's smallest test tier (sf0.001: the star schema,
# events, documents and embeddings tables, seed 42, lineitem 6,000 rows, 500
# documents), the one tests/test_plans.py runs on, copied byte for byte into
# data/ so the benchmark reads only its own files. data/sf0.001.sha256 lists
# each file's SHA-256.
# ---------------------------------------------------------------------------

TIER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "sf0.001")


def tier() -> dict:
    """The registry tier: its path, its document count, whether every file
    matches the manifest, and a digest of the manifest."""
    manifest = TIER_DIR + ".sha256"
    with open(manifest, "rb") as fh:
        listed = fh.read()
    bad = []
    for line in listed.decode().splitlines():
        want, name = line.split()
        with open(os.path.join(TIER_DIR, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                bad.append(name)
    n_docs = pq.ParquetFile(os.path.join(TIER_DIR, "documents.parquet")).metadata.num_rows
    return {"path": TIER_DIR, "n_docs": n_docs, "mismatched_files": bad,
            "digest": hashlib.sha256(listed).hexdigest()[:16]}
