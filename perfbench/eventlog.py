"""Roll up a Spark event log by job group, wave phase and plan operator.

The harness tags every public call with ``setJobGroup`` (``wave:<n>``,
``compact:<n>``, ``corpus:extract``, ``query:<leaf>`` ...).  This module
reads the uncompressed JSON-lines log Spark writes and attributes:

- task metrics (run time, shuffle, scan, spill, output bytes) to job groups;
- a wave's jobs to the phases of ``WaveRunner.run_wave``, through the
  output path of its writes and the Python call site Spark records for its
  collects (``collect at .../waves.py:1345``);
- stage task time to the layer whose operators the stage ran (anti-join or
  bloom filter for the URL-seen gate, the politeness window, the fetch UDF),
  matched through the SQL-metric accumulators each task reports.

Nothing here touches the program under test: it only reads the log.
"""

from __future__ import annotations

import ast
import glob
import json
import os
from collections import defaultdict
from functools import lru_cache

SQL_EVENT = "org.apache.spark.sql.execution.ui."


def load(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@lru_cache(maxsize=None)
def _tree(path: str) -> ast.AST | None:
    try:
        with open(path) as fh:
            return ast.parse(fh.read())
    except (OSError, SyntaxError):
        return None


def _innermost(path: str, lineno: int, kinds) -> ast.AST | None:
    """Smallest node of ``kinds`` whose lines contain ``lineno``."""
    tree = _tree(path)
    if tree is None:
        return None
    inner = [n for n in ast.walk(tree) if isinstance(n, kinds)
             and n.lineno <= lineno <= n.end_lineno]
    return min(inner, key=lambda n: n.end_lineno - n.lineno, default=None)


def call_site(site: str | None) -> tuple[str, int, str] | None:
    """``"collect at /x/waves.py:1284"`` -> (path, line, enclosing function)."""
    if not site or " at " not in site:
        return None
    path, _, line = site.split(" at ", 1)[1].rpartition(":")
    if not path.endswith(".py") or not line.isdigit():
        return None
    func = _innermost(path, int(line), (ast.FunctionDef, ast.AsyncFunctionDef))
    return path, int(line), func.name if func is not None else ""


def job_marker(job: dict, exec_root: dict[int, str]) -> str | None:
    """What a job inside ``run_wave`` is, when that can be told: a write to
    the page sink or to the wave delta (from the SQL plan's output path),
    or a collect in ``run_wave`` itself (from its Python call site;
    only collect-style actions carry one)."""
    root = exec_root.get(job["exec"], "")
    if "InsertIntoHadoopFsRelationCommand" in root:
        if "-pages/wave=" in root:
            return "sink_write"
        if "/delta.parquet" in root:
            return "delta_write"
    cs = call_site(job["site"])
    return "collect" if cs is not None and cs[2] == "run_wave" else None


def wave_phases(jobs: list[dict], exec_root: dict[int, str]) -> list[str]:
    """One phase per job of a ``run_wave`` with a page sink and a link
    expander, in the order the wave runs them: select (snapshot resolve,
    URL-seen gate, politeness rank), fetch_write (the sink write, which runs
    the fetch UDF), metrics (the lineage and status collects), links (the
    discovery gate and count) and commit (the delta write).  A job with no
    marker stays in the phase before it, except that the first one after
    the metrics starts the links phase."""
    phase, out = "select", []
    for job in jobs:
        marker = job_marker(job, exec_root)
        if marker == "sink_write":
            phase = "fetch_write"
        elif marker == "delta_write":
            phase = "commit"
        elif marker == "collect":
            phase = "metrics"
        elif phase == "metrics":
            phase = "links"
        out.append(phase)
    return out


def _plan_nodes(info: dict, out: list) -> list:
    out.append(info)
    for child in info.get("children", []):
        _plan_nodes(child, out)
    return out


class Log:
    """Indexes over one event log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.stage_accs: dict[int, set] = defaultdict(set)
        self.acc_total: dict[int, float] = defaultdict(float)
        self.acc_node: dict[int, tuple[str, str]] = {}
        self.plans: dict[int, dict] = {}  # execution id -> latest plan
        self.exec_root: dict[int, str] = {}  # execution id -> command or root
        self.exec_group: dict[int, str] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "site": props.get("callSite.short"),
                    "exec": int(props["spark.sql.execution.id"])
                    if props.get("spark.sql.execution.id") else None,
                    "t0": e["Submission Time"] / 1000.0,
                    "t1": e["Submission Time"] / 1000.0,
                }
                for sid in e.get("Stage IDs", []):
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self._task(e)
            elif kind in (SQL_EVENT + "SparkListenerSQLExecutionStart",
                          SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate"):
                xid = int(e["executionId"])
                self.plans[xid] = e["sparkPlanInfo"]
                if xid not in self.exec_root:
                    # a write's command node sits under the AQE root
                    nodes = _plan_nodes(e["sparkPlanInfo"], [])
                    cmd = [n for n in nodes if n["nodeName"].startswith("Execute ")]
                    self.exec_root[xid] = (cmd or nodes)[0]["simpleString"]
                if e.get("jobGroupId"):
                    self.exec_group[xid] = e["jobGroupId"]
                for node in _plan_nodes(e["sparkPlanInfo"], []):
                    for m in node.get("metrics", []):
                        self.acc_node[m["accumulatorId"]] = (
                            node["nodeName"], node["simpleString"])

    def _task(self, e: dict) -> None:
        info = e.get("Task Info") or {}
        if info.get("Failed") or info.get("Killed"):
            return
        st = self.stages[e["Stage ID"]]
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        st["tasks"] += 1
        st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["scan"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        st["written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                self.stage_accs[e["Stage ID"]].add(acc["ID"])
                try:
                    self.acc_total[acc["ID"]] += float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    pass

    # ---- roll-ups -----------------------------------------------------

    def group_jobs(self, group: str) -> list[dict]:
        return sorted(
            (j for j in self.jobs.values() if j["group"] == group), key=lambda j: j["t0"]
        )

    def group_stages(self, group: str) -> list[int]:
        ids = {jid for jid, j in self.jobs.items() if j["group"] == group}
        return [sid for sid, jid in self.stage_job.items() if jid in ids and sid in self.stages]

    def totals(self, group: str) -> dict:
        out = defaultdict(float)
        out["jobs"] = len(self.group_jobs(group))
        for sid in self.group_stages(group):
            for k, v in self.stages[sid].items():
                out[k] += v
        return dict(out)

    def phases(self, group: str) -> dict[str, float]:
        """Wall seconds per ``run_wave`` phase: the union of each phase's
        job intervals (see ``wave_phases``)."""
        jobs = self.group_jobs(group)
        spans: dict[str, list] = defaultdict(list)
        for job, phase in zip(jobs, wave_phases(jobs, self.exec_root)):
            spans[phase].append((job["t0"], job["t1"]))
        return {p: _union(iv) for p, iv in spans.items()}

    def job_list(self, group: str) -> list[list]:
        """[phase, seconds, call site or plan root] per job, for the record."""
        jobs = self.group_jobs(group)
        return [
            [phase, round(j["t1"] - j["t0"], 3),
             j["site"] if call_site(j["site"]) else self.exec_root.get(j["exec"], j["site"] or "")[:120]]
            for j, phase in zip(jobs, wave_phases(jobs, self.exec_root))
        ]

    def stage_layers(self, group: str) -> dict[str, float]:
        """Task seconds per operator layer.  A stage counts toward every
        layer whose operator it ran, so the layers may overlap."""
        out = defaultdict(float)
        for sid in self.group_stages(group):
            names = [self.acc_node.get(a, ("", ""))
                     for a in self.stage_accs.get(sid, ())]
            run = self.stages[sid]["run_s"]
            if any("getbit" in s or n.endswith("Join") and "LeftAnti" in s
                   for n, s in names):
                out["gate"] += run
            if any(n in ("Window", "WindowGroupLimit") for n, _ in names):
                out["rank"] += run
            if any(n == "MapInPandas" for n, _ in names):
                out["fetch"] += run
                out["fetch_tasks"] += self.stages[sid]["tasks"]
        return dict(out)

    def bloom_rows(self, group: str) -> tuple[float, float]:
        """(rows the bloom passed on to the exact anti-join, rows probed),
        from the two ``getbit`` filters' output-row metrics."""
        ids = set()
        for sid in self.group_stages(group):
            ids |= self.stage_accs.get(sid, set())
        maybe = new = 0.0
        for a in ids:
            node, s = self.acc_node.get(a, ("", ""))
            if node == "Filter" and "getbit" in s:
                if s.startswith("Filter NOT "):
                    new += self.acc_total[a]
                else:
                    maybe += self.acc_total[a]
        return maybe, maybe + new

    def scan_count(self, group: str) -> int:
        """File-scan nodes in the final plan of the group's last SQL
        execution (the action the leaf was timed through)."""
        xids = [x for x, g in self.exec_group.items() if g == group]
        if not xids:
            return 0
        nodes = _plan_nodes(self.plans[max(xids)], [])
        return sum(1 for n in nodes if n["nodeName"].startswith("Scan parquet"))


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
