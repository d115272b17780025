"""Traced-run instruments, all outside the engine code.

* ``Spans``: wall-clock spans the benchmark records around each call
  into a layer, kept in memory and written once when the run ends.
* ``EventLog``: a reader of Spark's JSON event log. Every pass runs
  under its own job description, so tasks, SQL executions and SQL
  metrics (scan time, PythonSQLMetrics, shuffle bytes) group by pass.
* ``layer_self_times``: splits the perf profiler's cProfile stats of
  the mapInArrow UDF into per-layer self times by the module each
  function lives in.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from collections import defaultdict
from typing import Dict, List, Optional


class Spans:
    """Flat span log: (name, start, end, parent index)."""

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def open(self, name: str) -> "_Span":
        return _Span(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, log: Spans, name: str) -> None:
        self.log = log
        self.name = name
        self.seconds = 0.0

    def __enter__(self) -> "_Span":
        parent = self.log._stack[-1] if self.log._stack else None
        self.idx = len(self.log.spans)
        self.log.spans.append({"name": self.name, "parent": parent,
                               "start": time.time(), "end": None})
        self.log._stack.append(self.idx)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self.t0
        self.log.spans[self.idx]["end"] = time.time()
        self.log._stack.pop()


# ----------------------------------------------------------------------
_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_EXEC_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_EXEC_AQE = ("org.apache.spark.sql.execution.ui."
             "SparkListenerSQLAdaptiveExecutionUpdate")
_DRIVER_ACCUMS = ("org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates")
_PY_NODE = "MapInArrow"


def _walk(node: dict):
    yield node
    for ch in node.get("children", ()):
        yield from _walk(ch)


class EventLog:
    """Parsed event log of one finished application."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in "
                               f"{log_dir}, found {files}")
        self.acc_meta: Dict[int, tuple] = {}   # id -> (node, name, type)
        self.execs: Dict[int, dict] = {}
        self.stage_desc: Dict[int, str] = {}
        self.tasks: List[dict] = []
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> List[dict]:
        nodes = list(_walk(info))
        for n in nodes:
            for m in n.get("metrics", ()):
                self.acc_meta[m["accumulatorId"]] = (
                    n["nodeName"], m["name"], m["metricType"])
        return nodes

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _EXEC_START:
            nodes = self._plan(e["sparkPlanInfo"])
            self.execs[e["executionId"]] = {
                "desc": e.get("description") or "",
                "start": e["time"], "end": None,
                "root": e["sparkPlanInfo"].get("simpleString", ""),
                "driver_accs": {},
                "scans": [n.get("metadata", {}).get("Location", "")
                          for n in nodes
                          if n["nodeName"].startswith("Scan ")]}
        elif kind == _EXEC_AQE:
            self._plan(e["sparkPlanInfo"])
        elif kind == _DRIVER_ACCUMS:
            x = self.execs.get(e["executionId"])
            if x is not None:
                for acc, val in e["accumUpdates"]:
                    x["driver_accs"][acc] = val
        elif kind == _EXEC_END:
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get(
                "spark.job.description") or ""
            for sid in e["Stage IDs"]:
                self.stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                return
            tm = e["Task Metrics"]
            sr = tm["Shuffle Read Metrics"]
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": tm["Executor Run Time"],
                "gc_ms": tm["JVM GC Time"],
                "out_b": tm["Output Metrics"]["Bytes Written"],
                "sh_read_b": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                "sh_write_b": tm["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"],
                "accs": {a["ID"]: a.get("Update", 0)
                         for a in e["Task Info"].get("Accumulables", ())
                         if a.get("Metadata") == "sql"},
            })

    def pass_stats(self, tag: str, wall_s: float, nproc: int,
                   input_dir: str) -> dict:
        """Event-log metrics of every job whose description starts with
        ``tag`` (one pass)."""
        tasks = [t for t in self.tasks
                 if self.stage_desc.get(t["stage"], "").startswith(tag)]
        execs = [x for x in self.execs.values()
                 if x["desc"].startswith(tag)]

        def sql_sum(node_pred, name: str) -> float:
            tot = 0.0
            for t in tasks:
                for acc, upd in t["accs"].items():
                    meta = self.acc_meta.get(acc)
                    if meta and meta[1] == name and node_pred(meta[0]):
                        tot += float(upd)
            return tot

        py_stages = {t["stage"] for t in tasks
                     if any(self.acc_meta.get(a, ("",))[0] == _PY_NODE
                            for a in t["accs"])}
        py_runs = [t["run_ms"] for t in tasks if t["stage"] in py_stages]
        by_stage = defaultdict(list)
        for t in tasks:
            if t["sh_read_b"] > 0:
                by_stage[t["stage"]].append(t["sh_read_b"])
        skews = [max(v) / statistics.median(v)
                 for v in by_stage.values() if len(v) >= 2]
        is_py = lambda n: n == _PY_NODE  # noqa: E731
        task_s = sum(t["run_ms"] for t in tasks) / 1e3
        loc = "file:" + os.path.abspath(input_dir)
        return {
            "tasks": len(tasks),
            "task_s": task_s,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            # scans report file bytes to the driver, not in task metrics
            "input_mb": sum(
                v for x in execs for acc, v in x["driver_accs"].items()
                if self.acc_meta.get(acc, ("", ""))[1]
                == "size of files read") / 1e6,
            "written_mb": sum(t["out_b"] for t in tasks) / 1e6,
            "shuffle_read_mb": sum(t["sh_read_b"] for t in tasks) / 1e6,
            "shuffle_write_mb": sum(t["sh_write_b"] for t in tasks) / 1e6,
            "exchange_skew": max(skews, default=0.0),
            "scan_s": sql_sum(lambda n: n.startswith("Scan "),
                              "scan time") / 1e3,
            "py_sent_mb": sql_sum(is_py, "data sent to Python workers") / 1e6,
            "py_recv_mb": sql_sum(
                is_py, "data returned from Python workers") / 1e6,
            "py_rows_out": sql_sum(is_py, "number of output rows"),
            "py_stage_task_s": sum(py_runs) / 1e3,
            "py_task_skew": (max(py_runs) / statistics.median(py_runs)
                             if py_runs else 0.0),
            "core_busy_share": task_s / (wall_s * nproc),
            "input_scans": sum(f"{loc}]" in s
                               for x in execs for s in x["scans"]),
            # SQL executions that write a checkpoint bucket: the stage
            # proper, as opposed to run_resumable's own bookkeeping
            "bucket_write_s": sum(
                (x["end"] - x["start"]) / 1e3 for x in execs
                if x["end"] and "InsertIntoHadoopFsRelationCommand"
                in x["root"] and "/chunks/bucket=" in x["root"]),
        }


# ----------------------------------------------------------------------
# cProfile attribution. Keys of the perf profiler's stats are
# (basename, line, function) because the worker strips directories.
LAYER_OF_FILE = {
    "tokenizer.py": "chunking.tokenizer",
    "hybrid.py": "chunking.hybrid",
    "hierarchical.py": "chunking.hierarchical",
    "markdown.py": "serializers.markdown",
    "mdtable.py": "serializers.markdown",
    "spans.py": "model",
    "docjson.py": "sources.docjson",
}
LAYERS = sorted(set(LAYER_OF_FILE.values())) + [
    "engine.arrow_build", "engine.loop"]


def _owner(func: tuple) -> Optional[str]:
    fname, _line, name = func
    if fname == "engine.py":
        return ("engine.arrow_build" if name == "_chunk_record_batch"
                else "engine.loop")
    return LAYER_OF_FILE.get(fname)


def load_profile(dump_dir: str) -> Optional[pstats.Stats]:
    """Merge every UDF's perf-profile dump written by
    ``spark.profile.dump``."""
    files = sorted(glob.glob(os.path.join(dump_dir, "*.pstats")))
    if not files:
        return None
    st = pstats.Stats(files[0])
    for p in files[1:]:
        st.add(p)
    return st


def layer_self_times(st: pstats.Stats) -> Dict[str, float]:
    """Self time per layer. A function of a layer's module belongs to
    that layer. Any other function (the shared document tree in
    model/doc.py, builtins, stdlib, pyarrow) is charged to its callers'
    layers in proportion to the time each caller spent in it, so
    ``Doc.iterate_items`` called by the serializer is serializer time.
    Time reached only from the pyspark worker stays unattributed.
    cProfile does not see pyarrow's Cython methods, so the Arrow decode
    (``to_pylist``) counts in its caller, the engine's UDF loop."""
    stats = st.stats
    memo: Dict[tuple, Dict[str, float]] = {}

    def dist(f: tuple) -> Dict[str, float]:
        if f in memo:
            return memo[f]
        own = _owner(f)
        if own is not None:
            memo[f] = {own: 1.0}
            return memo[f]
        memo[f] = {}  # cycle guard: a call cycle stays unattributed
        callers = {c: v for c, v in stats[f][4].items() if c != f}
        tot = sum(v[2] for v in callers.values())
        key = 2 if tot > 0 else 3
        tot = tot or sum(v[3] for v in callers.values())
        out: Dict[str, float] = defaultdict(float)
        for c, v in callers.items():
            if c not in stats or tot <= 0:
                continue
            for layer, share in dist(c).items():
                out[layer] += share * v[key] / tot
        memo[f] = dict(out)
        return memo[f]

    self_s: Dict[str, float] = {k: 0.0 for k in LAYERS}
    for f, (_cc, _nc, tt, _ct, _callers) in stats.items():
        for layer, share in dist(f).items():
            self_s[layer] += tt * share
    return self_s


def ncalls(st: Optional[pstats.Stats], fname: str, name: str) -> int:
    if st is None:
        return 0
    return sum(v[1] for k, v in st.stats.items()
               if k[0] == fname and k[2] == name)
