"""Spark session, layer spans and event-log folding for the benchmark.

Jobs are attributed to layers by Spark job groups that the benchmark sets
around its own calls into the program; nothing inside the package is
instrumented. The event log (uncompressed, not rolling) is read back after
the session stops and its task metrics are folded per job group.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import time
from contextlib import contextmanager

MASTER = "local[4]"
DRIVER_MEM = "4g"


class Run:
    """One benchmark process: its work directory, Spark session and spans.

    Job groups read `bench|<phase>|<layer>`. The untraced run tags all timed
    work with layer `all`; the traced run tags each call with its layer.
    """

    def __init__(self, root: str, workload: str, trace: bool):
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "events", "local", "ckpt", "out"):
            os.makedirs(os.path.join(self.work, d))
        self.spans: list[dict] = []
        self.spark = None
        self._proc = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self, root: str):
        """Start the session on local[4] with the event log in the work dir."""
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["TMPDIR"] = self.path("tmp")
        paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + paths)
        from memory_optimized_splink_spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark(
            app_name="perfbench", master=MASTER,
            checkpoint_dir=self.path("ckpt"),
            extra_conf={
                "spark.local.dir": self.path("local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.warehouse.dir": self.path("tmp", "warehouse"),
            })
        self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        self.spark = None

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, phase: str, layer: str, name: str = ""):
        """Time a block and tag its Spark jobs with a job group.

        In the untraced run every timed span uses layer `all`, so the only
        cost is one local-property write per call."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"bench|{phase}|{layer if self.trace else 'all'}",
                       name or layer)
        rec = {"phase": phase, "layer": layer, "name": name or layer,
               "start": time.perf_counter()}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc.setJobGroup("bench|other|none", "untagged")

    def span_seconds(self, layer: str, name: str | None = None,
                     phase: str = "timed") -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["phase"] == phase and s["layer"] == layer
                   and (name is None or s["name"] == name))

    def write_spans(self) -> None:
        with open(self.path("spans.json"), "w") as f:
            json.dump(self.spans, f, indent=1)

    # -------------------------------------------------------- event log
    def fold_event_log(self) -> dict[str, dict]:
        """Task metrics summed per job group (peak memory as a max)."""
        logs = glob.glob(self.path("events", "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        return fold_events(logs[0])


_PY_TIME = "time to run Python workers"
_ZERO = {"jobs": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0,
         "spill_b": 0, "output_b": 0, "peak_mem_b": 0, "python_s": 0.0}


def fold_events(path: str) -> dict[str, dict]:
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, dict(_ZERO, callsites={}))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "none")
                b = bucket(group)
                b["jobs"] += 1
                site = (ev.get("Properties") or {}).get("callSite.short", "")
                site = site.rsplit(" at ", 1)[-1].rsplit(":", 1)[0]
                b["callsites"][site] = b["callsites"].get(site, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = ev["Stage Info"]["Stage ID"]
                if group:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                b = bucket(stage_group.get(sid, "none"))
                m = ev.get("Task Metrics") or {}
                b["run_s"] += m.get("Executor Run Time", 0) / 1e3
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                b["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                b["spill_b"] += m.get("Disk Bytes Spilled", 0)
                outm = m.get("Output Metrics") or {}
                b["output_b"] += outm.get("Bytes Written", 0)
                b["peak_mem_b"] = max(b["peak_mem_b"],
                                      m.get("Peak Execution Memory", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == _PY_TIME:
                        b["python_s"] += float(acc.get("Update", 0)) / 1e3
    return out


def merge(folds: dict[str, dict], pred) -> dict:
    """Sum the groups whose name satisfies `pred` (peak memory as a max)."""
    tot = dict(_ZERO)
    for g, b in folds.items():
        if not pred(g):
            continue
        for k in tot:
            tot[k] = max(tot[k], b[k]) if k == "peak_mem_b" else tot[k] + b[k]
    return tot
