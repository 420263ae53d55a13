"""Spans around the benchmark's calls into the engine, and the Spark event-log
parser that turns them into per-layer metrics.

A span covers one call from the benchmark's own code into an engine module,
named ``<module>.<function>`` (``operators.linkrank.linkrank_raw``). While it
runs, the Spark job group is set to the span's id, so every job the call
starts carries that id in the event log. Spans are kept in memory and written
out when the run ends. Nothing here runs inside the engine.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

MB = 1e6

#: every span a workload can open, with the extra metrics it reports
COMMON = ("call_s", "jobs", "task_cpu_s", "shuffle_write_mb", "driver_gap_s", "cached_mb_after")
LAZY = ("materialize_s",)
SOURCE = LAZY + ("rows_out", "keep_ratio")
HEAVY = ("gc_s", "spill_mb")
LOOP = HEAVY + ("jobs_per_superstep", "superstep_s", "shuffle_mb_per_superstep", "bcast_joins")
SPANS = {
    "session.get_spark": (),
    "sources.nutch.host_vertices": SOURCE,
    "sources.nutch.host_edges": SOURCE,
    "sources.nutch.webpage_vertices": SOURCE,
    "sources.nutch.webpage_edges": SOURCE,
    "operators.clean.dedup_edges": LAZY,
    "operators.linkrank.trustrank_raw": LOOP,
    "operators.linkrank.linkrank_raw": LOOP,
    "operators.linkrank.normalize_scores": LAZY,
    "operators.dedup.exact_dedup": LAZY,
    "operators.dedup.minhash_lsh_pairs": HEAVY + ("candidate_pairs",),
    "operators.components.connected_components": HEAVY,
    "operators.dedup.ngram_jaccard_pairs": HEAVY + ("verified_pairs", "lsh_precision", "planted_recall"),
    "sink.parquet_write": (),
}
RUN_METRICS = {
    "spark.jobs": "count", "spark.task_cpu_util": "share", "trace.overhead_s": "s",
    "driver.peak_rss_mb": "MB",
}
UNITS = {
    "call_s": "s", "jobs": "count", "task_cpu_s": "s", "shuffle_write_mb": "MB",
    "driver_gap_s": "s", "cached_mb_after": "MB", "materialize_s": "s", "rows_out": "count",
    "keep_ratio": "share", "gc_s": "s", "spill_mb": "MB", "jobs_per_superstep": "count",
    "superstep_s": "s", "shuffle_mb_per_superstep": "MB", "bcast_joins": "count",
    "candidate_pairs": "count", "verified_pairs": "count", "lsh_precision": "share",
    "planted_recall": "share",
}


def metric_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for span, extra in SPANS.items():
        for m in COMMON + extra:
            out[f"{span}.{m}"] = UNITS[m]
    out.update(RUN_METRICS)
    return out


class Tracer:
    """Records spans for one run. With ``enabled`` false, ``call`` is a plain
    call: untraced passes pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id = "setup"
        self.probe_s = 0.0  # time spent in probes that are not the pass's own work

    def _group(self, kind: str) -> str:
        group = f"{kind}|{self.pass_id}|{len(self.spans)}"
        self.sc.setJobGroup(group, kind)
        return group

    def call(self, name: str, fn, *args, lazy: bool = False, rows_in: int | None = None, **kw):
        """``fn(*args, **kw)`` inside span ``name``. A lazy span (one that
        returns an unevaluated frame) is also timed as a separate no-op write
        of its result (``materialize_s``), and a source span counts its rows."""
        if not self.enabled:
            return fn(*args, **kw)
        group = self._group(name)
        start = time.time()
        out = fn(*args, **kw)
        end = time.time()
        rec = {"name": name, "pass": self.pass_id, "start": start, "end": end, "group": group}
        self._group("probe")
        p0 = time.time()
        rec["cached_mb_after"] = storage_mb(self.sc)
        if lazy:
            self._group(f"{name}.materialize")
            m0 = time.time()
            out.write.format("noop").mode("overwrite").save()
            rec["materialize_s"] = time.time() - m0
            if rows_in:
                self._group("probe")
                rec["rows_out"], rec["rows_in"] = out.count(), rows_in
        self.probe_s += time.time() - p0
        self.spans.append(rec)
        self._group("glue")
        return out

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller (a call that starts no Spark job)."""
        if self.enabled:
            self.spans.append({"name": name, "pass": self.pass_id, "start": start, "end": end,
                               "group": None})

    def annotate(self, counts: dict) -> None:
        """Attach the checker's counts (``candidate_pairs``, ...) to the span
        of the current pass that reports them."""
        for rec in self.spans if self.enabled else ():
            if rec["pass"] == self.pass_id:
                rec.update({k: v for k, v in counts.items() if k in SPANS[rec["name"]]})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def storage_mb(sc) -> float:
    """Block-manager storage held by cached and checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


# --- event log --------------------------------------------------------------


def _plan_bhj(node: dict) -> int:
    """BroadcastHashJoin nodes of a plan, not counting plans cached by an
    earlier span (InMemoryTableScan subtrees)."""
    if node.get("nodeName") == "InMemoryTableScan":
        return 0
    own = 1 if node.get("nodeName") == "BroadcastHashJoin" else 0
    return own + sum(_plan_bhj(c) for c in node.get("children", []))


def parse_eventlog(path: str) -> dict[str, dict]:
    """Per job group: job intervals, summed task metrics and
    BroadcastHashJoin count of the final (post-AQE) SQL plans."""
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": [], "cpu_ns": 0, "gc_ms": 0, "spill": 0, "shuffle_w": 0, "execs": set()}
    )
    job_group, job_start, stage_group, plans = {}, {}, {}, {}
    with open(path) as f:
        lines = list(f)
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id", "none")
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            if props.get("spark.sql.execution.id") is not None:
                groups[g]["execs"].add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"])
            if g is not None:
                groups[g]["jobs"].append((job_start[e["Job ID"]], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "none")
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            g = groups[stage_group.get(e["Stage ID"], "none")]
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill"] += m.get("Disk Bytes Spilled", 0)
            g["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[e["executionId"]] = e["sparkPlanInfo"]
    for g in groups.values():
        g["bhj"] = sum(_plan_bhj(plans[x]) for x in g.pop("execs") if x in plans)
    return dict(groups)


def find_eventlog(directory: str) -> str:
    """The one uncompressed, unrolled event log written under ``directory``."""
    (name,) = os.listdir(directory)
    return os.path.join(directory, name)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def span_metrics(rec: dict, groups: dict[str, dict]) -> dict[str, float]:
    g = groups.get(rec["group"]) or {"jobs": [], "cpu_ns": 0, "gc_ms": 0, "spill": 0,
                                     "shuffle_w": 0, "bhj": 0}
    call = rec["end"] - rec["start"]
    out = {
        "calls": 1,
        "call_s": call,
        "jobs": len(g["jobs"]),
        "task_cpu_s": g["cpu_ns"] / 1e9,
        "shuffle_write_mb": g["shuffle_w"] / MB,
        "driver_gap_s": call - _covered(g["jobs"], rec["start"], rec["end"]),
        "gc_s": g["gc_ms"] / 1000.0,
        "spill_mb": g["spill"] / MB,
        "bcast_joins": g["bhj"],
    }
    for k in ("cached_mb_after", "materialize_s", "rows_out", "rows_in",
              "candidate_pairs", "verified_pairs", "lsh_precision", "planted_recall"):
        if k in rec:
            out[k] = rec[k]
    return out


def per_layer(
    spans: list[dict],
    groups: dict[str, dict],
    traced_passes: list[str],
    updates: int,
    pass_walls: dict[str, float],
    probe_s: dict[str, float],
    plain_walls: list[float],
    cores: int,
) -> dict[str, dict]:
    """Per-layer metrics: each span's values summed over its calls within a
    traced pass (ratios and per-superstep values over the summed counts), then
    the median over traced passes. Spans the workload never calls read 0.
    ``pass_walls`` exclude the tracer's probes (``probe_s``); the tracing
    overhead is a traced pass with its probes minus the median plain pass."""
    per_pass: dict[str, dict[str, dict[str, float]]] = {p: defaultdict(dict) for p in traced_passes}
    for rec in spans:
        if rec["pass"] not in per_pass:
            continue
        acc = per_pass[rec["pass"]][rec["name"]]
        for k, v in span_metrics(rec, groups).items():
            acc[k] = acc.get(k, 0) + v
    names = metric_names()
    values: dict[str, list[float]] = defaultdict(list)
    for p, by_span in per_pass.items():
        for span, acc in by_span.items():
            if "jobs_per_superstep" in SPANS.get(span, ()):
                steps = updates * acc["calls"]
                acc["jobs_per_superstep"] = acc["jobs"] / steps
                acc["superstep_s"] = acc["call_s"] / steps
                acc["shuffle_mb_per_superstep"] = acc["shuffle_write_mb"] / steps
            if "rows_in" in acc:
                acc["keep_ratio"] = acc["rows_out"] / acc["rows_in"]
            for k, v in acc.items():
                if f"{span}.{k}" in names:
                    values[f"{span}.{k}"].append(v)
        jobs = sum(len(g["jobs"]) for gid, g in groups.items() if _is_work(gid, p))
        cpu = sum(g["cpu_ns"] for gid, g in groups.items() if _is_work(gid, p)) / 1e9
        values["spark.jobs"].append(jobs)
        values["spark.task_cpu_util"].append(cpu / (pass_walls[p] * cores))
        values["trace.overhead_s"].append(
            pass_walls[p] + probe_s[p] - statistics.median(plain_walls)
        )
    setup = [r for r in spans if r["name"] == "session.get_spark"]
    if setup:
        values["session.get_spark.call_s"] = [setup[0]["end"] - setup[0]["start"]]
    return {
        n: {"value": statistics.median(values[n]) if values.get(n) else 0, "unit": u}
        for n, u in names.items()
    }


def _is_work(group_id: str, pass_id: str) -> bool:
    """Jobs of a pass's own work: every span group of the pass, not the
    probes the tracer adds."""
    parts = group_id.split("|")
    return (
        len(parts) == 3 and parts[1] == pass_id and parts[0] != "probe"
        and not parts[0].endswith(".materialize")
    )
