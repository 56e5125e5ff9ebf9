"""Tracing for the benchmark's per-layer profile.

- ``Tracer`` keeps spans (name, start, end, parent) in memory.  Opening a
  layer span sets the Spark job description to the layer's module name, so
  every job the layer's calls submit is tagged with it in the event log.
- ``parse_event_log`` reads Spark's JSON-lines event log and sums task
  metrics per job description.
- ``layer_metrics`` joins the two into ``<module>.<counter>`` numbers.
- ``plan_counts`` counts physical-plan nodes in ``plans.formatted_plan``.

Spans are recorded from the benchmark's own files around its calls into
each layer; the program itself is not instrumented.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "sources.sequences",
    "sources.streams",
    "operators.range_query",
    "operators.knn",
    "operators.join",
    "operators.text",
    "operators.dedup",
    "operators.mixing",
    "operators.retrieval",
    "operators.similarity",
    "streaming.stateful",
    "streaming.sink",
)
COUNTERS = ("self_s", "task_s", "gc_s", "shuffle_mb", "spill_mb", "rows_out", "jobs")
# jobs tagged with the key layer whose stages have no parent stage (the file
# scan of the micro-batch) are charged to the value layer
SCAN_STAGES_OF = {"streaming.stateful": "sources.streams"}

# per-layer metrics a traced run reports besides LAYERS x COUNTERS, with units
EXTRAS = {
    "operators.range_query.pass_ratio": "ratio",  # matched rows / grid candidates
    "operators.join.pairs_per_seq": "ratio",  # window density
    "streaming.batch.plan_s": "s",  # StreamingQueryProgress.durationMs, median per batch
    "streaming.batch.add_s": "s",
    "streaming.batch.wal_s": "s",
    "streaming.stateful.state_rows": "count",  # stateOperators, peak over batches
    "streaming.stateful.state_mb": "MB",
    "streaming.stateful.commit_ms": "ms",  # median per batch
    **{f"plan.{k}": "count" for k in ("exchanges", "generates", "scans", "smj", "shj", "bhj")},
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",  # VmHWM of the Spark JVM + driver process
    "trace.pass_s": "s",  # the traced batch pass
    "trace.overhead_s": "s",  # traced pass_s - untraced pass_s
    "trace.drain_s": "s",  # the traced drain's timed micro-batches
    "baseline.local1_pass_s": "s",  # one pass on local[1]
}
_COUNTER_UNITS = {"self_s": "s", "task_s": "s", "gc_s": "s", "shuffle_mb": "MB",
                  "spill_mb": "MB", "rows_out": "count", "jobs": "count"}
PER_LAYER = {
    **{f"{layer}.{c}": _COUNTER_UNITS[c] for layer in LAYERS for c in COUNTERS},
    **EXTRAS,
}

_MB = 1e6


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rows: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """A span; its Spark jobs carry `name` as their job description."""
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty("spark.job.description")
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover, summed
        per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job description: jobs, task_s, gc_s, shuffle_mb, spill_mb summed
    over the tasks of the stages those jobs ran.  A stage belongs to the job
    that submitted it; stages with no parent stage in a job tagged with a
    key of SCAN_STAGES_OF are charged to the mapped layer instead."""
    stage_owner: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if not desc:
                    continue
                agg[desc]["jobs"] += 1
                scan_layer = SCAN_STAGES_OF.get(desc)
                for st in ev.get("Stage Infos", []):
                    sid = st["Stage ID"]
                    if sid in stage_owner:
                        continue  # a skipped stage re-listed by a later job
                    no_parent = not st.get("Parent IDs")
                    stage_owner[sid] = scan_layer if scan_layer and no_parent else desc
            elif kind == "SparkListenerTaskEnd":
                owner = stage_owner.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if owner is None or not m:
                    continue
                a = agg[owner]
                a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                a["shuffle_mb"] += (
                    rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                ) / _MB
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return dict(agg)


def layer_metrics(tracer: Tracer, events: dict[str, dict[str, float]]) -> dict[str, float]:
    """Every LAYERS x COUNTERS value; a layer the workload does not touch
    reads 0."""
    self_s = tracer.self_times()
    out: dict[str, float] = {}
    for layer in LAYERS:
        ev = events.get(layer, {})
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        out[f"{layer}.rows_out"] = tracer.rows.get(layer, 0)
        for c in ("task_s", "gc_s", "shuffle_mb", "spill_mb", "jobs"):
            out[f"{layer}.{c}"] = ev.get(c, 0)
    return out


_NODE = re.compile(r"^[\s:|+\-*]*([A-Za-z][\w ]*?) \((\d+)\)\s*$")
# keyed on the operator name, the first word of a tree line ("Exchange",
# "BroadcastHashJoin Inner BuildRight", "Scan parquet", "InMemoryTableScan")
PLAN_NODES = {
    "exchanges": lambda op: op == "Exchange",
    "generates": lambda op: op == "Generate",
    "scans": lambda op: "Scan" in op,
    "smj": lambda op: op == "SortMergeJoin",
    "shj": lambda op: op == "ShuffledHashJoin",
    "bhj": lambda op: op == "BroadcastHashJoin",
}


def plan_counts(plan_text: str) -> dict[str, int]:
    """Node counts from the tree header of a formatted plan (the numbered
    operator list above the per-node details)."""
    seen: dict[str, str] = {}
    for line in plan_text.splitlines():
        if not line.strip():
            break  # the tree ends at the first blank line
        m = _NODE.match(line)
        if m:
            seen[m.group(2)] = m.group(1).split()[0]
    return {k: sum(1 for op in seen.values() if pred(op)) for k, pred in PLAN_NODES.items()}
