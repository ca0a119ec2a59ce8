"""Benchmark of the docling_metrics_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload flagship_uniform --seed 1 \
        --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a separate traced run
with ``--trace 1``. The line before it is the run's full record: host and
provenance facts, every sample, every check and the error channels. The
record and the spans are also written to ``perfbench/out/``. See NOTES.md.

The run re-executes itself in a private mount namespace whose /tmp is an
empty directory under ``perfbench/.work/``, so the program's intermediates,
Spark's scratch space and every input live inside the checkout and start
empty on each run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MOUNT_SCRIPT = """
tmp="$1"; root="$2"; shift 2
case "$root" in /tmp/*)
  top="${root#/tmp/}"; top="${top%%/*}"
  mkdir -p "$tmp/$top" && mount --bind "/tmp/$top" "$tmp/$top" || exit 97 ;;
esac
mount --rbind "$tmp" /tmp || exit 97
exec "$@"
"""


def _die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inner", default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def preflight(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "docling_metrics_spark", "__init__.py")):
        _die(f"no docling_metrics_spark package at {ROOT}; run from a checkout")
    sys.path[:0] = [ROOT, BENCH_DIR]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    # Spark runs on local[N] with N the size of the CPU affinity mask, so its
    # parallelism never exceeds the cores this process may use.
    return len(os.sched_getaffinity(0))


def _isolation_prefix(tmp: str) -> tuple[str, list[str]]:
    """The first way to run MOUNT_SCRIPT that works here, tried by looking
    for this file from inside it."""
    for name, prefix in (("mount-namespace", ["unshare", "-m"]),
                         ("user+mount-namespace", ["unshare", "-Urm"])):
        prefix = prefix + ["--propagation", "private", "sh", "-c", MOUNT_SCRIPT,
                           "sh", tmp, ROOT]
        try:
            probe = prefix + ["test", "-f", os.path.abspath(__file__)]
            if subprocess.run(probe, capture_output=True).returncode == 0:
                return name, prefix
        except OSError:
            break
    return "none", []


def _leftovers(marker: str) -> list[int]:
    """Processes still carrying this run's environment marker."""
    found = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/environ", "rb") as fh:
                    if marker.encode() in fh.read():
                        found.append(int(d))
            except OSError:
                pass
    return found


def outer(args, argv) -> int:
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BENCH_DIR, ".work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    isolation, prefix = _isolation_prefix(tmp)
    marker = f"DMS_BENCH_RUN={run_id}"
    env = dict(os.environ)
    env.update({
        "DMS_BENCH_RUN": run_id, "DMS_BENCH_WORK": work,
        "PYTHONPATH": os.pathsep.join([ROOT, BENCH_DIR]),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": "/tmp" if prefix else tmp,
    })
    # The program's own session defaults apply (master aside).
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_DRIVER_MEM", None)
    cmd = [sys.executable, os.path.abspath(__file__), *argv, "--inner", isolation]
    if prefix:
        cmd = prefix + cmd
    else:
        env["TMPDIR"] = tmp
    try:
        code = subprocess.run(cmd, env=env, cwd=ROOT).returncode
    finally:
        for _ in range(100):
            pids = _leftovers(marker)
            if not pids:
                break
            for pid in pids:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        # Outside the namespace the private mounts are gone, so this removes
        # only the run's own files.
        shutil.rmtree(work, ignore_errors=True)
    return code


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown (git unavailable)"


def _program_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "docling_metrics_spark")
    for dp, dn, fns in sorted(os.walk(pkg)):
        dn.sort()
        for fn in sorted(fns):
            if fn.endswith(".py"):
                p = os.path.join(dp, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def provenance(args, cores: int) -> dict:
    import pyarrow
    import pyspark

    import inputs
    import sparkside

    return {
        "workload": args.workload, "seed": args.seed,
        "held_out_seed": args.seed >= inputs.HELD_OUT_SEED_MIN,
        "seconds": args.seconds, "trace": args.trace,
        "affinity_mask_size": len(os.sched_getaffinity(0)),
        "cores": cores, "master": f"local[{cores}]",
        "load": "closed loop, one client, one job at a time",
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "git_commit": _git_commit(),
        "program_digest": _program_digest(),
        "isolation": args.inner,
        "cache_state": (
            "empty: /tmp is a private empty directory for the run's process tree"
            if args.inner != "none" else
            "unknown: no mount namespace; the program's /tmp intermediates may exist"),
        "foreign_spark_processes": sparkside.foreign_spark_processes(),
    }


def inner(args, cores: int) -> int:
    import inputs
    import sparkside
    import workloads
    from tracer import Tracer

    run_id, work = os.environ["DMS_BENCH_RUN"], os.environ["DMS_BENCH_WORK"]
    record = {"provenance": provenance(args, cores)}
    t0 = time.perf_counter()
    corpus = inputs.write_corpus(os.path.join(work, "corpus"),
                                 workloads.WORKLOADS[args.workload]["n_docs"],
                                 args.seed, cores)
    record["provenance"].update(corpus_digest=corpus["digest"],
                                n_docs=corpus["n_docs"],
                                corpus_gen_s=time.perf_counter() - t0)
    tracer = Tracer(run_id) if args.trace else None
    master = f"local[{cores}]"

    # One set-up, as a user pays it: it launches the JVM.
    with (tracer.span("session.setup") if tracer else nullcontext()):
        spark, start_s, warm_s = sparkside.set_up_session(master, cores, tracer)
    setup = record["setup"] = {"start_s": start_s, "warm_s": warm_s}
    record["provenance"]["spark_driver_memory"] = spark.conf.get("spark.driver.memory")
    t_run = time.perf_counter()
    try:
        if args.trace:
            result = traced_run(args, spark, corpus, cores, work, tracer, setup, record)
        else:
            result = untraced_run(args, spark, corpus, work, setup, record)
    except Exception:  # a raised error fails the run; report it, never hide it
        import traceback

        traceback.print_exc()
        record["error"] = traceback.format_exc()[-4000:]
        print(json.dumps(record, default=str))
        return 1
    finally:
        t_stop = time.perf_counter()
        sparkside.shutdown(spark)
        record["phase_s"] = {"before_workload": t_run - t0, "workload": t_stop - t_run,
                             "shutdown": time.perf_counter() - t_stop}

    names = _declared_metrics("per_layer" if args.trace else "end_to_end")
    if set(result["metrics"]) != names:
        _die(f"metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ names)}", 3)
    os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
    out = os.path.join(BENCH_DIR, "out", run_id)
    with open(out + ".record.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer:
        tracer.write(out + ".spans.json")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _declared_metrics(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def untraced_run(args, spark, corpus, work, setup, record) -> dict:
    import sparkside
    import workloads

    window = sparkside.Window()
    warmup_ops = workloads.WORKLOADS[args.workload]["warmup_ops"]
    if args.workload == "checkpoint_resume":
        ops, gate, detail = workloads.run_checkpoint(
            spark, corpus, args.seconds, args.seed, warmup_ops, window, work)
    else:
        ops, gate, detail = workloads.run_flagship(
            spark, corpus, args.seconds, args.seed, warmup_ops, window)
    n = corpus["n_docs"]
    metrics = {
        "setup_s": (setup["start_s"] + setup["warm_s"], "s"),
        "docs_per_s": (n / statistics.median(w for w, _, _ in ops), "docs/s"),
        "cpu_ms_per_doc": (1e3 * statistics.median(c for _, c, _ in ops) / n, "ms/doc"),
    }
    record.update(checks=gate.checks, detail=detail, window=window.summary(),
                  failed_docs=sorted(gate.failed_docs)[:50])
    return {"correct": gate.correct, "attempted": n, "failed": gate.failed_count(n),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def traced_run(args, spark, corpus, cores, work, tracer, setup, record) -> dict:
    import inputs
    import layers
    import workloads

    L = layers.Layers()
    gate = workloads.Gate()
    counts: dict = {}
    L.put("session.start_s", setup["start_s"], "s")
    L.put("session.worker_warm_s", setup["warm_s"], "s")

    kernels = layers.kernel_profile(corpus, tracer, L)
    record["trace_overhead"] = layers.tracing_overhead(corpus, L)
    # Untimed: the JVM's first-job cost stays out of every layer number.
    workloads.flagship_op(spark, corpus["path"])
    rows = layers.spark_layers(spark, corpus, work, cores, tracer, L, kernels, gate)
    layers.checkpoint_layer(spark, corpus, work, tracer, L, counts, gate, rows)

    tier = inputs.tier()
    record["provenance"].update(tier=os.path.relpath(tier["path"], ROOT),
                                tier_digest=tier["digest"])
    reg = layers.registry_layer(spark, tier, tracer, L, counts, gate)
    record.update(checks=gate.checks, layers=L.metrics, spark_jobs=counts,
                  registry_passes=reg["passes"],
                  error_channels=kernels["channels"],
                  failed_docs=sorted(gate.failed_docs)[:50])
    attempted = corpus["n_docs"] + len(layers.HEADLINE)
    return {"correct": gate.correct, "attempted": attempted,
            "failed": gate.failed_count(attempted, len(reg["failed"])),
            "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                        for k, m in L.metrics.items()}}


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    cores = preflight(args)
    if args.inner is None:
        return outer(args, argv)
    return inner(args, cores)


if __name__ == "__main__":
    sys.exit(main())
