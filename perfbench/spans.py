"""Spans around the engine's layers, installed from outside the package,
and their attribution of Spark work from the event log.

A span wraps one public function of a layer. It records its name, start,
end and parent, and sets the Spark job group of the calling thread to its
own id for its duration, so every job the engine starts inside it is
tagged with the innermost span. After the run, the (uncompressed) event
log is parsed and each job's stages and task metrics are summed per span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-span-"

# (module path, attribute path, span name). Layers are named after the
# package's modules. ``pipeline`` binds the SCD merges and the fraud report
# by name, so those are patched where pipeline looks them up.
SPANS = {
    "daily_etl": [
        ("etl_fraud_detection_spark.pipeline", "run_daily", "pipeline.run_daily"),
        ("etl_fraud_detection_spark.pipeline", "ingest_file", "pipeline.ingest_file"),
        ("etl_fraud_detection_spark.pipeline", "ingest_database", "pipeline.ingest_database"),
        ("etl_fraud_detection_spark.pipeline", "mart_update", "pipeline.mart_update"),
        ("etl_fraud_detection_spark.pipeline", "scd1_merge", "operators.scd.scd1_merge"),
        ("etl_fraud_detection_spark.pipeline", "scd2_merge", "operators.scd.scd2_merge"),
        ("etl_fraud_detection_spark.pipeline", "fraud_report", "plans.fraud.fraud_report"),
        ("etl_fraud_detection_spark.sources.files", "read_any", "sources.files.read_any"),
        ("etl_fraud_detection_spark.sources.jdbc", "read_incremental",
         "sources.jdbc.read_incremental"),
        ("etl_fraud_detection_spark.sources.jdbc", "read_keys", "sources.jdbc.read_keys"),
        ("etl_fraud_detection_spark.state", "RunLog.append", "state.RunLog.append"),
        ("etl_fraud_detection_spark.state", "RunLog.next_run_id", "state.RunLog.next_run_id"),
    ],
    "corpus_admit": [
        ("etl_fraud_detection_spark.operators.corpus_build", "build_corpus",
         "operators.corpus_build.build_corpus"),
        ("etl_fraud_detection_spark.operators.corpus_build", "admit_corpus_batch",
         "operators.corpus_build.admit_corpus_batch"),
        ("etl_fraud_detection_spark.operators.corpus_build", "_admission",
         "operators.corpus_build.admission"),
        ("etl_fraud_detection_spark.operators.dedup", "minhash_lsh_pairs",
         "operators.dedup.minhash_lsh_pairs"),
        ("etl_fraud_detection_spark.operators.dedup", "components_from_edges",
         "operators.dedup.components_from_edges"),
        ("etl_fraud_detection_spark.operators.dedup_index", "ingest",
         "operators.dedup_index.ingest"),
        ("etl_fraud_detection_spark.operators.export", "export_shards",
         "operators.export.export_shards"),
    ],
}
_WAREHOUSE = [
    ("etl_fraud_detection_spark.pipeline", f"Warehouse.{m}", f"pipeline.Warehouse.{m}")
    for m in ("overwrite", "append", "read", "begin_run", "commit_run", "recover")
]
SESSION = ("etl_fraud_detection_spark.session", "get_spark", "session.get_spark")


class Tracer:
    """In-memory span recorder. ``phase`` labels the spans it records
    (set-up or timed); while ``enabled`` is false the wrappers only call
    through, so an untraced pass runs the unwrapped code path."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.phase = "setup"
        self.enabled = True
        self.sc = None

    def install(self, workload: str) -> None:
        import importlib

        for mod, attr, name in [SESSION] + SPANS[workload] + _WAREHOUSE:
            owner = importlib.import_module(mod)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            setattr(owner, leaf, self._wrap(orig, name))

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     None if sid is None else f"{GROUP_PREFIX}{sid}")

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "phase": tracer.phase,
                   "start": time.perf_counter(), "end": None, "returned": None}
            tracer.spans.append(rec)
            tracer._stack.append(sid)
            tracer._set_group(sid)
            try:
                result = fn(*args, **kwargs)
            finally:
                rec["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer._set_group(parent)
            if isinstance(result, int) and not isinstance(result, bool):
                rec["returned"] = result  # e.g. the row count of a warehouse write
            return result

        return span

    # -- derived views --------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def by_name(self, phase: str) -> dict[str, dict]:
        agg: dict[str, dict] = defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "calls": 0,
                                                    "returned": 0, "ids": []})
        selft = self.self_times()
        for s in self.spans:
            if s["phase"] != phase:
                continue
            a = agg[s["name"]]
            a["s"] += s["end"] - s["start"]
            a["self_s"] += selft[s["id"]]
            a["calls"] += 1
            a["returned"] += s["returned"] or 0
            a["ids"].append(s["id"])
        return agg

    def coverage(self, phase: str, wall: float) -> float:
        """Share of the timed wall time spent inside named spans below the
        unit's root span (the root itself covers the whole unit)."""
        roots = {s["id"] for s in self.spans if s["phase"] == phase and s["parent"] is None}
        covered = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in roots)
        return covered / wall if wall else 0.0


def parse_event_log(events_dir: str) -> dict[str, dict]:
    """Per job group: jobs, executed stages, tasks and summed task metrics."""
    files = sorted(glob.glob(os.path.join(events_dir, "**", "*"), recursive=True))
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        raise RuntimeError(f"no Spark event log under {events_dir}")
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages_seen: set[tuple[int, int]] = set()
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = g
                    out[g]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    st = ev["Stage ID"]
                    g = job_group.get(stage_job.get(st, -1), "")
                    key = (st, ev.get("Stage Attempt ID", 0))
                    if key not in stages_seen:
                        stages_seen.add(key)
                        out[g]["stages"] += 1
                    m = ev.get("Task Metrics") or {}
                    o = out[g]
                    o["tasks"] += 1
                    o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    o["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    o["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    o["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def span_of_group(group: str) -> int | None:
    return int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
