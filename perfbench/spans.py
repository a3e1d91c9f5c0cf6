"""Spans around the program's public calls, and per-layer metrics.

Spans are recorded from the benchmark's own files: the public calls of
the batch job (``StageRunner.run``) and of the CDC job
(``fold_insert_batch``, ``fold_delete_batch``, ``TableIO.write*``,
``gc_graph_version``) are wrapped for the duration of one run.  A span
encloses the call AND its materialization: a stage span ends only after
its table is written, because Spark plans are lazy and the operator's
compute runs inside that write.

In a traced run every span tags the Spark jobs it launches with a job
group (``spark.jobGroup.id``), and stage and task metrics come from the
Spark event log.  Spans stay in memory; ``layer_metrics`` turns them into
per-layer numbers after the session has stopped and the log is complete.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# batch stage name -> layer (module of knowledge_graph_spark.operators)
STAGE_LAYER = {
    "conv_docs": "assemble",
    "text_units": "chunk",
    "raw_records": "extract",
    "nodes": "parse",
    "edges": "parse",
    "degrees": "graphops",
    "nodes_final": "summarize",
    "edges_final": "summarize",
    "communities": "community",
    "communities_leveled": "community",
    "community_hierarchy": "reports",
    "community_reports": "reports",
    "claims": "claims",
    "tool_transitions": "agent_trace",
    "turn_latency": "agent_trace",
}
LAYERS = [
    "assemble", "chunk", "extract", "parse", "graphops", "summarize", "community",
    "claims", "agent_trace", "checkpoint", "merge", "retract_stream", "io",
]
GROUP_PREFIX = "perfbench-"


class Tracer:
    """In-memory span recorder.  With ``tag_jobs`` each open span owns the
    Spark job group of the thread that runs it."""

    def __init__(self, sc, tag_jobs: bool):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def current(self, kind: str | None = None) -> dict | None:
        for s in reversed(self._open):
            if kind is None or s["kind"] == kind:
                return s
        return None

    def begin(self, name: str, layer: str, kind: str, **attrs) -> dict:
        parent = self.current()
        span = {
            "id": len(self.spans), "name": name, "layer": layer, "kind": kind,
            "parent": parent["id"] if parent else None, "t0": time.time(), "t1": None,
            **attrs,
        }
        self.spans.append(span)
        self._open.append(span)
        self._tag(span)
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.time()
        self._open.remove(span)
        self._tag(self.current())

    def _tag(self, span: dict | None) -> None:
        if self.tag_jobs:
            group = f"{GROUP_PREFIX}{span['id']}" if span else None
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, layer: str, kind: str, **attrs):
        s = self.begin(name, layer, kind, **attrs)
        try:
            yield s
        finally:
            self.end(s)


class Patches:
    """Attribute replacements undone in reverse order by ``undo``."""

    def __init__(self):
        self._undo: list[tuple] = []

    def wrap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def undo(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def instrument_batch(tracer: Tracer, patches: Patches) -> None:
    """One span per ``StageRunner.run`` call, with a ``checkpoint`` child
    from the end of the stage's table write to the end of its manifest
    write (the read-back count, ``partition_profile``,
    ``content_fingerprint`` and the manifest itself)."""
    from knowledge_graph_spark.checkpoint import StageRunner
    from knowledge_graph_spark.io import TableIO

    def run(orig):
        def wrapped(self, name, make, *args, **kwargs):
            with tracer.span(name, STAGE_LAYER[name], "stage"):
                try:
                    return orig(self, name, make, *args, **kwargs)
                finally:
                    post = tracer.current("checkpoint")
                    if post is not None:
                        tracer.end(post)
        return wrapped

    def write(orig):
        def wrapped(self, df, name, *args, **kwargs):
            out = orig(self, df, name, *args, **kwargs)
            stage = tracer.current()
            if stage is not None and stage["kind"] == "stage":
                tracer.begin(f"post_write:{name}", "checkpoint", "checkpoint")
            return out
        return wrapped

    def write_text(orig):
        def wrapped(self, relpath, text):
            out = orig(self, relpath, text)
            post = tracer.current()
            if post is not None and post["kind"] == "checkpoint":
                tracer.end(post)
            return out
        return wrapped

    patches.wrap(StageRunner, "run", run)
    patches.wrap(TableIO, "write", write)
    patches.wrap(TableIO, "write_bucketed", write)
    patches.wrap(TableIO, "write_text", write_text)


def _write_layer(table: str, op: str) -> str:
    if table.startswith("records__s"):
        return "extract"
    if table.startswith(("nodes__v", "edges__v")):
        return "merge" if op == "insert" else "parse"
    if table.startswith("claims__"):
        return "claims"
    if table.startswith("communities__v"):
        return "community"
    return "retract_stream"


def instrument_cdc(tracer: Tracer, patches: Patches, traced: bool) -> None:
    """A ``retract_stream`` span per fold.  Traced runs add child spans:
    table writes tagged by table prefix, the community and claims
    maintenance calls (their rounds run eagerly inside the call), and
    ``gc_graph_version`` as ``io``."""
    from knowledge_graph_spark.io import TableIO
    from knowledge_graph_spark.streaming import retract_stream as rs

    def fold(op):
        def make(orig):
            def wrapped(io, batch_df, *args, **kwargs):
                attrs = {"op": op}
                if traced:
                    state = rs._state(io) or {}
                    attrs["version"] = int(state.get("version", -1)) + 1
                    attrs["segments_read"] = len(state.get("segments", [])) + len(
                        state.get("claim_segments", [])
                    )
                with tracer.span(f"fold_{op}_batch", "retract_stream", "fold", **attrs):
                    return orig(io, batch_df, *args, **kwargs)
            return wrapped
        return make

    patches.wrap(rs, "fold_insert_batch", fold("insert"))
    patches.wrap(rs, "fold_delete_batch", fold("delete"))
    if not traced:
        return

    def call(name, layer):
        def make(orig):
            def wrapped(*args, **kwargs):
                with tracer.span(name, layer, "call"):
                    return orig(*args, **kwargs)
            return wrapped
        return make

    def write(orig):
        def wrapped(self, df, name, *args, **kwargs):
            f = tracer.current("fold")
            if f is None:
                return orig(self, df, name, *args, **kwargs)
            with tracer.span(f"write:{name}", _write_layer(name, f["op"]), "write"):
                return orig(self, df, name, *args, **kwargs)
        return wrapped

    patches.wrap(rs, "_fold_communities", call("_fold_communities", "community"))
    patches.wrap(rs, "_fold_claims", call("_fold_claims", "claims"))
    patches.wrap(rs, "gc_graph_version", call("gc_graph_version", "io"))
    patches.wrap(TableIO, "write", write)


# ---------------------------------------------------------------------------
# event log -> per-span Spark work
# ---------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> tuple[dict, dict]:
    """(jobs, stage_tasks) from the single finished event log in
    ``log_dir``.  jobs: id -> {group, t, stages}; stage_tasks: stage id ->
    list of per-task metric dicts."""
    files = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    with open(files[0]) as f:
        for line in f:
            head = line[:48]
            if "SparkListenerJobStart" in head:
                e = json.loads(line)
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "t": e["Submission Time"] / 1000.0,
                    "stages": e["Stage IDs"],
                }
            elif "SparkListenerTaskEnd" in head:
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                stage_tasks[e["Stage ID"]].append(
                    {
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "rows_out": (m.get("Output Metrics") or {}).get("Records Written", 0),
                        "bytes_out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    }
                )
    return jobs, stage_tasks


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part covered by child spans (children of one
    span run one after another, so their durations add up)."""
    kids = sum(s["t1"] - s["t0"] for s in spans if s["parent"] == span["id"])
    return span["t1"] - span["t0"] - kids


def attribute_jobs(spans: list[dict], jobs: dict) -> tuple[dict, int]:
    """span id -> [job ids].  A job goes to the span named by its job
    group; a job without one (launched on a thread the group does not
    reach) goes to the innermost span open at its submission time, and
    jobs outside every span (set-up, checks) to none.  Returns the map
    and the number of jobs attributed by time."""
    by_span: dict[int, list[int]] = defaultdict(list)
    untagged = 0
    for jid, job in jobs.items():
        group = job["group"] or ""
        if group.startswith(GROUP_PREFIX):
            by_span[int(group[len(GROUP_PREFIX):])].append(jid)
            continue
        inside = [s for s in spans if s["t0"] <= job["t"] <= s["t1"]]
        if inside:
            untagged += 1
            by_span[max(inside, key=lambda s: s["t0"])["id"]].append(jid)
    return by_span, untagged


def layer_metrics(spans: list[dict], jobs: dict, stage_tasks: dict) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in LAYERS; a layer the
    workload never enters reads 0 throughout."""
    by_span, untagged = attribute_jobs(spans, jobs)
    owner: dict[int, int] = {}  # stage id -> job that ran it (first to list it)
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in owner.items():
        job_stages[jid].append(sid)

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        job_ids = [j for s in mine for j in by_span.get(s["id"], [])]
        stage_ids = [sid for j in job_ids for sid in job_stages.get(j, [])]
        tasks = [t for sid in stage_ids for t in stage_tasks.get(sid, [])]
        skew = 0.0
        if stage_ids:
            big = max(stage_ids, key=lambda sid: sum(t["run_s"] for t in stage_tasks.get(sid, [])))
            runs = [t["run_s"] for t in stage_tasks.get(big, [])]
            if runs:
                skew = max(runs) / max(statistics.median(runs), 1e-3)
        vals = {
            "wall_s": sum(self_time(s, spans) for s in mine),
            "jobs": len(job_ids),
            "rows_out": sum(t["rows_out"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "task_s": sum(t["run_s"] for t in tasks),
            "task_skew": skew,
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v
    out["io.bytes_written"] = sum(t["bytes_out"] for ts in stage_tasks.values() for t in ts)
    out["trace.untagged_jobs"] = untagged
    return out
