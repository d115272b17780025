#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 benchmark/run.py --workload docjson_chunk_hybrid --seed 1 \\
        --seconds 30 --trace 0

Run from the root of a checkout. Spark runs as local[nproc] inside
this single driver process. Each workload is a closed loop: set-up
generates the inputs from ``--seed`` and runs the warm-up passes, then
one pass runs at a time, the next starting only when the previous one
has finished and been checked, until the next pass would end after
``--seconds``. Every pass's output is checked against an independent
computation; a pass that raises or fails its check counts as failed.

``--trace 0`` reports the end-to-end metrics (medians over the passes).
``--trace 1`` is the separate traced run: Spark's event log, the
``perf`` UDF profiler and an in-process single-core pass give the
per-layer metrics (see benchmark/README.md).

The last line of stdout is the result JSON; the lines before it are
box evidence and the human-readable report. All files go under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

from procfs import PeakRss, cpu_probe, tree_cpu_s
from tracing import EventLog, Spans, layer_self_times, load_profile, ncalls

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 3
DRIVER_MEMORY = "8g"  # docling_core_spark.session's default driver heap
PLAIN_PASSES = 1    # a traced run's passes without the profiler
PROF_PASSES = 2     # and with it: two, to check that counts repeat


def _session(work: str, nproc: int, event_dir: str = ""):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (SparkSession.builder
         .appName("docling-benchmark")
         .master(f"local[{nproc}]")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(nproc))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file:" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.terminate()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None


def _box() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__}


class Loop:
    """Closed-loop pass runner with per-pass wall and tree CPU."""

    def __init__(self, w, ctx, pid: int) -> None:
        self.w = w
        self.ctx = ctx
        self.pid = pid
        self.attempted = 0
        self.failed = 0
        self.passes: list = []   # (wall_s, cpu_s, checked ok)
        self.notes: list = []
        self.obs: dict = {}

    def timed(self) -> list:
        """(wall, cpu) of the passes that passed their check, or of all
        passes when none did, so a failing run still reports numbers."""
        ok = [p[:2] for p in self.passes if p[2]]
        return ok or [p[:2] for p in self.passes]

    def warm(self, tag: str) -> None:
        """A set-up pass: run, neither checked nor counted."""
        self.w.prepare()
        self.ctx.tag = tag
        self.w.run_pass()

    def one(self, tag: str) -> float:
        self.w.prepare()
        self.ctx.tag = tag
        self.attempted += 1
        obs, why = None, "raised"
        c0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            obs = self.w.run_pass()
        except Exception:  # a failed pass is counted, the loop goes on
            traceback.print_exc()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(self.pid) - c0
        self.obs[tag] = obs
        self.ctx.tag = f"{tag}-check"
        if obs is not None:
            try:
                why = self.w.check(obs)
            except Exception:  # a check that cannot run fails the pass
                traceback.print_exc()
                why = "check raised"
        if why:
            self.failed += 1
            self.notes.append(f"{tag}: {why}")
        self.passes.append((wall, cpu, not why))
        return wall


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "docling_core_spark")):
        print(f"benchmark: no docling_core_spark package under {ROOT}; "
              f"run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    box = _box()
    nproc = box["nproc"]
    box["probe_before_mops"] = cpu_probe()
    spans = Spans()
    event_dir = os.path.join(work, "eventlog") if args.trace else ""
    spark = _session(work, nproc, event_dir)
    ctx = Ctx(spark, args.seed, nproc, work, spans)
    w = WORKLOADS[args.workload](ctx)
    loop = Loop(w, ctx, os.getpid())
    report = {"workload": args.workload, "seed": args.seed,
              "n_docs": w.n_docs, "box": box}
    try:
        # worker and JVM peak RSS are per-layer metrics: sampled only
        # in a traced run
        with (PeakRss(os.getpid()) if args.trace
              else contextlib.nullcontext()) as rss:
            ctx.tag = "setup"
            with spans.open("setup.generate"):
                w.generate()
            with spans.open("setup.warmup"):
                for i in range(w.warmup_passes):
                    loop.warm(f"warmup{i}")
            setup_s = time.perf_counter() - t_start
            if args.trace:
                raw = _traced(w, ctx, loop, spark)
                rss.sample()
                raw["py_worker_peak_rss_mb"] = rss.py_worker_mb
                raw["jvm_peak_rss_mb"] = rss.jvm_mb
            else:
                t_loop = time.perf_counter()
                i = 0
                while True:
                    loop.one(f"pass{i}")
                    i += 1
                    est = statistics.median(t for t, _ in loop.timed())
                    if (loop.attempted >= MIN_PASSES and
                            time.perf_counter() - t_loop + est
                            > args.seconds):
                        break
                metrics = _end_to_end(loop, w, setup_s)
    finally:
        _stop(spark)
    trace_notes = []
    if args.trace:
        metrics, trace_notes = _trace_metrics(raw, EventLog(event_dir), loop,
                                              nproc)
        trace_notes += _check_counts_across_runs(args.workload, args.seed,
                                                 metrics, trace_notes)
    box["probe_after_mops"] = cpu_probe()
    spans.dump(os.path.join(work, "spans.json"))

    failed, attempted = loop.failed, loop.attempted
    correct = failed == 0 and not trace_notes
    report.update(pass_walls_s=[p[0] for p in loop.passes],
                  notes=loop.notes, trace_notes=trace_notes,
                  failed_frac=failed / attempted, setup_s=setup_s)
    print("# box " + json.dumps(box))
    for note in loop.notes + trace_notes:
        print(f"# FAILED {note}")
    print(f"# {args.workload}: {attempted} passes, failed_frac "
          f"{failed / attempted:.3f} ({failed}/{attempted})")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v[0], "unit": v[1]}
                          for k, v in metrics.items()}}
    for k, v in metrics.items():
        print(f"# {k} = {v[0]:.6g} {v[1]}")
    with open(os.path.join(work, f"result-trace{args.trace}.json"),
              "w") as f:
        json.dump({**report, "result": result}, f, indent=1)
    print(json.dumps(result))
    return 0


def _end_to_end(loop: Loop, w, setup_s: float) -> dict:
    walls, cpus = zip(*loop.timed())
    return {
        "docs_per_s": (w.n_docs / statistics.median(walls), "docs/s"),
        "cpu_s_per_kdoc": (statistics.median(cpus) * 1000 / w.n_docs,
                           "s/kdoc"),
        "setup_s": (setup_s, "s"),
    }


def _traced(w, ctx, loop: Loop, spark) -> dict:
    """Untraced passes (event log only), then perf-profiled passes,
    then the in-process single-core pass. ``_trace_metrics`` turns
    this into metrics once Spark has stopped and the log is complete."""
    plain = [f"plain{i}" for i in range(PLAIN_PASSES)]
    prof = [f"prof{i}" for i in range(PROF_PASSES)]
    walls = {tag: loop.one(tag) for tag in plain}
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    profiles = []
    for tag in prof:
        spark.profile.clear()
        walls[tag] = loop.one(tag)
        dump = os.path.join(ctx.work, "profile", tag)
        spark.profile.dump(dump)
        profiles.append(load_profile(dump))
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    return {"plain": plain, "prof": prof, "walls": walls,
            "profiles": profiles, "single": w.single_core(), "workload": w}


def _trace_metrics(raw: dict, log, loop: Loop, nproc: int):
    """Per-layer metrics of a traced run and the notes of any failed
    trace check (see README.md for the map to end-to-end metrics)."""
    w = raw["workload"]
    walls = raw["walls"]
    notes = []

    def ev(tag):
        return log.pass_stats(tag + "|", walls[tag], nproc, w.in_dir)

    def obs_mean(tags, key):
        return mean(loop.obs[t].get(key, 0.0) for t in tags
                    if loop.obs.get(t))

    plain = [ev(t) for t in raw["plain"]]
    prof = [ev(t) for t in raw["prof"]]
    profiles = raw["profiles"]
    selfs = [layer_self_times(p) if p else None for p in profiles]

    def self_s(layer):
        return mean(s[layer] for s in selfs if s)

    tok_calls = [ncalls(p, "tokenizer.py", "count_tokens") for p in profiles]
    ser_calls = [ncalls(p, "markdown.py", "serialize") for p in profiles]
    rows_out = [e["py_rows_out"] for e in plain + prof]
    scans = [e["input_scans"] for e in plain + prof]
    for name, vals in (("chunking.tokenizer.count_calls", tok_calls),
                       ("serializers.markdown.serialize_calls", ser_calls),
                       ("engine.python_rows_out", rows_out),
                       ("io.checkpoint.input_scans", scans)):
        if len(set(vals)) != 1:
            notes.append(f"trace exactness: {name} differs across "
                         f"passes: {vals}")
    if w.name != "assemble_corpus" and rows_out[0] != w.chunks_out:
        notes.append(f"trace exactness: python rows out {rows_out[0]} != "
                     f"checked chunk rows {w.chunks_out}")
    unattributed = []
    for p, e, s in zip(profiles, prof, selfs):
        if s is None:
            continue
        rest = e["py_stage_task_s"] - sum(s.values())
        unattributed.append(rest)
        if rest < 0:
            notes.append(f"trace: layer self times exceed the Python "
                         f"stage task time by {-rest:.3f} s")
    plain_wall = statistics.median(walls[t] for t in raw["plain"])
    prof_wall = statistics.median(walls[t] for t in raw["prof"])
    docs_per_s = w.n_docs / plain_wall
    sc = raw["single"]
    run_s = obs_mean(raw["plain"], "run_s")
    bucket_s = mean(e["bucket_write_s"] for e in plain)
    hygiene_s = bucket_s if w.name == "assemble_corpus" else 0.0
    m = {
        "chunking.tokenizer.count_calls": (tok_calls[0], "count"),
        "chunking.tokenizer.calls_per_item": (
            sc["tok_calls"] / sc["items"] if sc else 0.0, "calls/item"),
        "chunking.tokenizer.count_s": (self_s("chunking.tokenizer"), "s"),
        "chunking.hybrid.split_merge_s": (self_s("chunking.hybrid"), "s"),
        "chunking.hierarchical_s": (self_s("chunking.hierarchical"), "s"),
        "chunking.chunks_out": (w.chunks_out, "count"),
        "serializers.markdown.serialize_calls": (ser_calls[0], "count"),
        "serializers.markdown.serialize_s": (
            self_s("serializers.markdown"), "s"),
        "model.doc_from_spans_s": (self_s("model"), "s"),
        "model.items_per_doc": (
            sc["items"] / sc["docs"] if sc else 0.0, "items/doc"),
        "sources.docjson.parse_s": (self_s("sources.docjson"), "s"),
        "sources.docjson.spans_out": (sc["spans"] if sc else 0, "count"),
        "engine.python_mb_sent": (mean(e["py_sent_mb"] for e in plain), "MB"),
        "engine.python_mb_received": (
            mean(e["py_recv_mb"] for e in plain), "MB"),
        "engine.python_rows_out": (rows_out[0], "count"),
        "engine.arrow_build_s": (self_s("engine.arrow_build"), "s"),
        "engine.udf_loop_s": (self_s("engine.loop"), "s"),
        "engine.udf_self_share": (mean(
            p.total_tt / e["py_stage_task_s"]
            for p, e in zip(profiles, prof)
            if p and e["py_stage_task_s"]), "share"),
        "engine.unattributed_s": (mean(unattributed), "s"),
        "engine.py_worker_peak_rss_mb": (raw["py_worker_peak_rss_mb"], "MB"),
        "engine.task_skew": (mean(e["py_task_skew"] for e in plain), "ratio"),
        "engine.core_busy_share": (
            mean(e["core_busy_share"] for e in plain), "share"),
        "engine.parallel_eff": (
            docs_per_s / (nproc * sc["docs_per_s"]) if sc else 0.0, "ratio"),
        "io.scan_s": (mean(e["scan_s"] for e in plain), "s"),
        "io.input_mb": (mean(e["input_mb"] for e in plain), "MB"),
        "io.bytes_written_mb": (mean(e["written_mb"] for e in plain), "MB"),
        "io.checkpoint.run_s": (run_s, "s"),
        "io.checkpoint.lineage_s": (run_s - bucket_s if run_s else 0.0, "s"),
        "io.checkpoint.input_scans": (scans[0], "count"),
        "textops.hygiene_s": (hygiene_s, "s"),
        "textops.dedup_s": (obs_mean(raw["plain"], "dedup_s"), "s"),
        "textops.pack_s": (obs_mean(raw["plain"], "pack_s"), "s"),
        "textops.shuffle_write_mb": (
            mean(e["shuffle_write_mb"] for e in plain), "MB"),
        "textops.shuffle_read_mb": (
            mean(e["shuffle_read_mb"] for e in plain), "MB"),
        "textops.exchange_skew": (
            mean(e["exchange_skew"] for e in plain), "ratio"),
        "textops.dedup_keep_ratio": (getattr(w, "keep_ratio", 0.0), "share"),
        "spark.jvm_peak_rss_mb": (raw["jvm_peak_rss_mb"], "MB"),
        "spark.jvm_gc_s": (mean(e["gc_s"] for e in plain), "s"),
        "spark.tasks": (plain[0]["tasks"], "count"),
        "trace.docs_per_s_untraced": (docs_per_s, "docs/s"),
        "trace.overhead": (prof_wall / plain_wall - 1, "share"),
    }
    return m, notes


EXACT_COUNTS = ("chunking.tokenizer.count_calls",
                "serializers.markdown.serialize_calls",
                "chunking.chunks_out", "engine.python_rows_out",
                "io.checkpoint.input_scans")


def _check_counts_across_runs(workload: str, seed: int, metrics: dict,
                              notes: list) -> list:
    """The exact counts of a traced run must repeat in every traced run
    of the same workload and seed in this checkout. The first clean run
    records them under .bench_work/trace_counts/ (outside the wiped
    per-workload dir); later runs are compared against that record."""
    counts = {k: metrics[k][0] for k in EXACT_COUNTS}
    d = os.path.join(ROOT, ".bench_work", "trace_counts")
    path = os.path.join(d, f"{workload}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)
        return [f"trace exactness: {k} = {counts[k]} != {first[k]} in an "
                f"earlier traced run with seed {seed}"
                for k in EXACT_COUNTS if counts[k] != first.get(k)]
    if not notes:
        os.makedirs(d, exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f)
    return []


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


if __name__ == "__main__":
    sys.exit(main())
