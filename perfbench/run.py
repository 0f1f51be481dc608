"""Lakehouse benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts Spark on local[<cores>], sets up, warms up, measures for
`--seconds`, checks every result against a reference model, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics of the traced run with `--trace 1`). The line before it holds
the run's details: percentiles and sample counts, input statistics and
Spark settings. Exit code 0 only when every output matched the model.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("ingest", "query")

E2E_UNITS = {
    "setup_s": "s", "op_p50_x": "x", "op2_p50_x": "x", "op3_p50_x": "x",
    "write_amp": "ratio", "space_amp": "ratio",
}
_READ_UNITS = {
    "plan.ms_p50": "ms", "plan.files_scanned": "count",
    "plan.files_pruned": "count", "plan.prune_ratio": "ratio",
    "plan.merge_files": "count", "plan.raw_files": "count",
    "read.build.ms_p50": "ms", "read.reuse_ratio": "ratio",
    "exec.ms_p50": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.exchanges": "count",
    "exec.shuffle_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.run_ms": "ms",
}
LAYERS = ("session", "writer.stage", "writer.commit", "metadata", "scanner",
          "table.read", "spark.exec", "compaction", "streaming",
          "functions.dedup")
LAYER_UNITS = {
    "session.start_s": "s",
    "stage.ms_p50": "ms", "stage.jobs": "count",
    "stage.shuffle_bytes": "bytes", "stage.bytes": "bytes",
    "stage.files": "count",
    "commit.ms_p50": "ms", "commit.jobs": "count",
    "commit.manifests": "count",
    "compact.minor.ms_p50": "ms", "compact.full.ms": "ms",
    "compact.jobs": "count", "compact.shuffle_bytes": "bytes",
    "compact.files_in": "count", "compact.files_out": "count",
    "compact.bytes_rewritten": "bytes",
    "meta.latest_ms": "ms", "meta.live_entries_ms": "ms",
    "meta.live_files": "count",
    **{f"{c}.{k}": u for c in ("point", "scan") for k, u in _READ_UNITS.items()},
    "stream.pickup.ms_p50": "ms", "stream.trigger.ms_p50": "ms",
    "stream.rows_per_input_row": "ratio",
    "dedup.candidates.ms_p50": "ms", "dedup.refresh.ms_p50": "ms",
    "dedup.append.ms_p50": "ms", "dedup.jobs": "count",
    "dedup.shuffle_bytes": "bytes", "dedup.hit_ratio": "ratio",
    "dedup.index_build.ms": "ms",
    **{f"{layer}.failed": "count" for layer in LAYERS},
    "spark.unattributed_jobs": "count", "trace.overhead_pct": "%",
}


def _unit(name: str) -> str:
    """Unit of a details-line end-to-end value, from its name."""
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    return "rows/s" if name == "rows_per_s" else "s"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def spark_env(run_dir: str) -> dict:
    """The Spark settings every run uses, sized to the host, with every
    scratch path inside the run directory. Flush policy: local
    filesystem, no fsync."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal")).split()[1])
    mem_g = max(1, min(4, mem_kb // (4 << 20)))
    tmp = os.path.join(run_dir, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": f"{mem_g}g",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp}"
                                " pyspark-shell"),
    }


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def layer_metrics(wl, tracer, start_s: float) -> dict:
    """Per-layer metrics from the traced run's spans: the timed phase's,
    and set-up's for the index build. A layer the workload does not
    exercise reports 0."""
    spans = [s for s in tracer.spans if s["layer"] != "workload"
             and (s["phase"] == "run" or s["name"] == "dedup.index_build")]

    def of(name):
        return [s for s in spans if s["name"] == name]

    def ms(name):
        return _median([(s["end"] - s["start"]) * 1000 for s in of(name)])

    def med(name, key, names=None):
        sel = [s for n in (names or [name]) for s in of(n)]
        return _median([s.get(key, 0) for s in sel])

    out = {"session.start_s": start_s,
           "stage.ms_p50": ms("stage"), "stage.jobs": med("stage", "jobs"),
           "stage.shuffle_bytes": med("stage", "shuffle_bytes"),
           "stage.bytes": med("stage", "bytes"),
           "stage.files": med("stage", "files"),
           "commit.ms_p50": ms("commit"), "commit.jobs": med("commit", "jobs"),
           "commit.manifests": med("commit", "manifests"),
           "compact.minor.ms_p50": ms("compact.minor"),
           "compact.full.ms": ms("compact.full"),
           "meta.latest_ms": ms("meta.latest"),
           "meta.live_entries_ms": ms("meta.live_entries"),
           "meta.live_files": med("meta.live_entries", "live_files")}
    both = ["compact.minor", "compact.full"]
    for key in ("jobs", "shuffle_bytes", "files_in", "files_out",
                "bytes_rewritten"):
        out[f"compact.{key}"] = med(None, key, both)
    for c in ("point", "scan"):
        plan, read, ex = f"{c}.plan", f"{c}.read", f"{c}.exec"
        out[f"{c}.plan.ms_p50"] = ms(plan)
        for key in ("files_scanned", "files_pruned", "prune_ratio",
                    "merge_files", "raw_files"):
            out[f"{c}.plan.{key}"] = med(plan, key)
        out[f"{c}.read.build.ms_p50"] = ms(read)
        reads = of(read)
        out[f"{c}.read.reuse_ratio"] = (
            sum(s["reuse"] for s in reads) / len(reads) if reads else 0.0)
        out[f"{c}.exec.ms_p50"] = ms(ex)
        for key in ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
                    "input_bytes", "run_ms"):
            out[f"{c}.exec.{key}"] = med(ex, key)
    x = wl.extra
    out["stream.pickup.ms_p50"] = _median(x.get("pickup_ms"))
    out["stream.trigger.ms_p50"] = _median(x.get("trigger_ms"))
    out["stream.rows_per_input_row"] = (
        len(wl.consumed) / wl.rows_in if wl.name == "ingest" else 0.0)
    out["dedup.candidates.ms_p50"] = ms("dedup.candidates")
    out["dedup.refresh.ms_p50"] = ms("dedup.refresh")
    out["dedup.append.ms_p50"] = _median(x.get("append_ms"))
    out["dedup.jobs"] = med("dedup.candidates", "jobs")
    out["dedup.shuffle_bytes"] = med("dedup.candidates", "shuffle_bytes")
    out["dedup.hit_ratio"] = (wl.found / wl.reported
                              if getattr(wl, "reported", 0) else 0.0)
    out["dedup.index_build.ms"] = ms("dedup.index_build")
    for layer in LAYERS:
        out[f"{layer}.failed"] = sum(1 for s in spans
                                     if s["layer"] == layer and s["failed"])
    out["spark.unattributed_jobs"] = tracer.unattributed_jobs
    on, off = wl.overhead[True], wl.overhead[False]
    out["trace.overhead_pct"] = (
        100.0 * (_median(on) - _median(off)) / _median(off) if on and off
        else 0.0)
    return out


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import paimon_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, batches_needed, tail

    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    env = spark_env(run_dir)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    spark = None
    try:
        batches = gen.SIZES[args.scale].get("batches", {}).get(
            args.workload) or batches_needed(args.workload, args.seconds)
        man = gen.generate(args.workload, args.seed,
                           os.path.join(run_dir, "inputs"), batches,
                           args.scale)
        from paimon_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, man,
                                      os.path.join(run_dir, "table"),
                                      args.seconds, bool(args.trace))
        t1 = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t1
        tracer.phase = "warmup"
        t2 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t2
        tracer.phase = "run"
        ticks = _cpu_ticks()
        wl.run()
        steal = _steal_pct(ticks, _cpu_ticks())
        tracer.phase = "verify"
        wl.verify()
        e2e = wl.metrics()
        wl.close()
        e2e.update({"setup_s": start_s + build_s + warmup_s,
                    **{f"{c}_p50_x": _median(xs) for c, xs in wl.rel.items()},
                    **{f"{c}_p50_s": _median(xs) for c, xs in wl.lat.items()},
                    "control_p50_s": _median(wl.control_s)})
        if args.trace:
            values = layer_metrics(wl, tracer, start_s)
            units = LAYER_UNITS
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            values, units = e2e, E2E_UNITS
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
            "samples": {k: len(v) for k, v in wl.lat.items()},
            "tails": {c: tail(xs) for c, xs in wl.lat.items()},
            "latencies_s": wl.lat,
            "setup_parts_s": {"session": start_s, "build": build_s,
                              "warmup": warmup_s},
            "fail_ratio": wl.failed / max(1, wl.attempted),
            "steal_pct": steal,
            "mismatches": wl.mismatches[:20],
            "inputs": {k: v for k, v in man.items() if k != "files"},
            "spark": {k: os.path.relpath(v, ROOT) if os.path.isabs(v) else v
                      for k, v in env.items() if k.startswith("SPARK_")},
            "end_to_end": {k: {"value": v, "unit": _unit(k)}
                           for k, v in e2e.items()},
        }
        if args.workload == "ingest":
            detail["compact_s"] = wl.compact_s
        else:
            detail["planted_recall"] = wl.recall()
        print(json.dumps(detail))
        correct = wl.failed == 0
        print(json.dumps({
            "correct": correct, "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u}
                        for k, u in units.items()}}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke tests")
    args = ap.parse_args(argv)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)
    try:
        return run(args)
    except Exception:                                  # noqa: BLE001
        traceback.print_exc()
        return 3


if __name__ == "__main__":
    sys.exit(main())
