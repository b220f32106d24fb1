"""Spans, Spark event-log accounting and process memory for the benchmark.

Spans are kept in memory and written out once, at exit.  Event logs are
the uncompressed JSON-lines files Spark writes with
``spark.eventLog.compress=false``; they are read with stdlib ``json``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# Package directories that count as layers, in the order spans and stage
# call sites are matched.  ``sources`` and ``streaming`` are reached only
# through plans queries, so their jobs are reported under ``plans``.
PACKAGE = "knowledge_model_spark"
LAYERS = ("session", "functions", "operators", "plans", "pipelines")
_FOLDED = {"sources": "plans", "streaming": "plans"}
# Call sites in the benchmark's own files are the client's forcing actions;
# "other" is a job with no Python call site: count(), writes, and jobs
# started from threads.
CALL_SITE_LAYERS = LAYERS + ("client", "other")


class Tracer:
    """Records (name, start, end, parent, op) spans when enabled; a no-op
    otherwise, so the untraced run pays one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
            for s in self.spans
        }

    def totals(self) -> dict[str, float]:
        """Span name → summed self time."""
        out: dict[str, float] = {}
        for sid, t in self.self_times().items():
            name = self.spans[sid]["name"]
            out[name] = out.get(name, 0.0) + t
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump([dict(s, self_s=selfs[s["id"]]) for s in self.spans], fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def call_site_layer(stage_name: str, client_dir: str) -> str:
    """Layer of a stage from the Python file:line Spark records as its name
    ("collect at /path/knowledge_model_spark/pipelines.py:120")."""
    _, _, site = stage_name.partition(" at ")
    path = site.rsplit(":", 1)[0]
    if path.startswith(client_dir):
        return "client"
    parts = path.split(os.sep)
    if PACKAGE in parts:
        rest = parts[parts.index(PACKAGE) + 1 :]
        top = rest[0][:-3] if len(rest) == 1 else rest[0]  # session.py → session
        top = _FOLDED.get(top, top)
        if top in LAYERS:
            return top
    return "other"


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the single application logged under ``log_dir``,
    whether Spark wrote one file or a rolling ``eventlog_v2_*`` directory."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_accounting(
    events: list[dict], ops: list[dict], phases: dict[str, float], client_dir: str
) -> tuple[dict[str, float], list[dict], list[str]]:
    """Per-run totals, per-op rows and accounting mismatches of the Spark
    work done inside each op's wall-clock window.

    ``ops`` rows carry ``group`` (the job group the benchmark set), ``start``
    and ``end`` (epoch seconds) and ``tracker_jobs`` (job ids the status
    tracker gives for the group).  ``phases`` holds ``setup_end`` and
    ``post_start``: set-up submits its jobs before the first, the output
    checks, probes and calibration after the second.  A job belongs to the
    op whose window holds its submission time; it is attributed when the
    event log gives it the op's group and unattributed when it gives none
    or another group.  A mismatch is reported when the status tracker and
    the event log disagree on the group's jobs, when a job of the group was
    submitted outside the op's window, or when a job of the event log falls
    in no op window, set-up or the post phase (a stray job, such as one
    from a thread that outlived its op).
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    root_site: dict[str, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            root = props.get("spark.sql.execution.root.id")
            # PySpark records a Python call site for collect/first/toPandas
            # but not for count() or writes; the query stages AQE runs as
            # jobs of their own share the call site of their root execution
            site = props.get("callSite.short") or root_site.get(root, "")
            if root is not None and site:
                root_site.setdefault(root, site)
            jobs[e["Job ID"]] = {
                "submitted": e["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "root": root,
                "site": site,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    for info in jobs.values():  # a root's call site may arrive with a later job
        info["layer"] = call_site_layer(info["site"] or root_site.get(info["root"], ""), client_dir)

    rows, mismatches = [], []
    totals: dict[str, float] = {}
    placed = {
        j for j, info in jobs.items()
        if info["submitted"] < phases["setup_end"] or info["submitted"] >= phases["post_start"]
    }
    for op in ops:
        lo, hi = op["start"], op["end"]
        in_window = {j for j, info in jobs.items() if lo <= info["submitted"] <= hi}
        placed |= in_window
        group_jobs = {j for j, info in jobs.items() if info["group"] == op["group"]}
        unattributed = {j for j in in_window if jobs[j]["group"] != op["group"]}
        if set(op["tracker_jobs"]) != group_jobs:
            mismatches.append(
                f"{op['group']}: status tracker jobs {sorted(op['tracker_jobs'])} "
                f"!= event-log jobs of the group {sorted(group_jobs)}"
            )
        if group_jobs - in_window:
            mismatches.append(f"{op['group']}: jobs {sorted(group_jobs - in_window)} of the group ran outside its window")
        if len(op["tracker_jobs"]) + len(unattributed) != len(in_window):
            mismatches.append(f"{op['group']}: attributed + unattributed jobs != event-log jobs in the window")
        row = {
            "op": op["group"],
            "jobs": len(op["tracker_jobs"]),
            "jobs_unattributed": len(unattributed),
            "jobs_total": len(in_window),
            "stages": 0,
            "tasks": 0,
            "tasks_failed": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for layer in CALL_SITE_LAYERS:
            row[f"{layer}.jobs"] = sum(1 for j in in_window if jobs[j]["layer"] == layer)
            row[f"{layer}.task_s"] = 0.0
        stages = set()
        busy = []
        for t in tasks:
            job = stage_job.get(t["Stage ID"])
            if job not in in_window:
                continue
            stages.add(t["Stage ID"])
            info, m = t["Task Info"], t.get("Task Metrics") or {}
            row["tasks"] += 1
            row["tasks_failed"] += int(info["Failed"] or info["Killed"])
            run_s = m.get("Executor Run Time", 0) / 1000.0
            row["executor_run_s"] += run_s
            row[f"{jobs[job]['layer']}.task_s"] += run_s
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            busy.append((max(lo, info["Launch Time"] / 1000.0), min(hi, info["Finish Time"] / 1000.0)))
        row["stages"] = len(stages)
        # op wall time with no task running: planning, py4j, the Python driver
        row["driver_only_s"] = (hi - lo) - _union_length([(a, b) for a, b in busy if b > a])
        rows.append(row)
        for k, v in row.items():
            if k != "op":
                totals[k] = totals.get(k, 0) + v
    stray = sorted(set(jobs) - placed)
    if stray:
        mismatches.append(
            "jobs in no op window, set-up or post phase: "
            + ", ".join(f"{j} (group {jobs[j]['group']}, {jobs[j]['site'] or 'no call site'})" for j in stray)
        )
    return totals, rows, mismatches


def _children(pid: int) -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(pid), [], [pid]
    while todo:
        p = todo.pop()
        for c in tree.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> dict[str, float]:
    """VmHWM in MB of ``pid`` ("driver"), the JVM below it ("jvm") and the
    JVM's Python workers ("workers"), each summed over its processes."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read()
            with open(f"/proc/{p}/status") as fh:
                hwm = next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            continue  # ended between listing and reading
        exe = cmd.split(b"\0", 1)[0]
        kind = "driver" if p == pid else "jvm" if exe.endswith(b"java") else "workers"
        out[kind] += hwm / 1024.0
    return out
