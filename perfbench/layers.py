"""Per-layer metrics of a traced run, named after the package's modules.

Every metric below is reported on every workload; one that a workload
never exercises reads 0 there (README.md lists which apply where).
Durations (``.s``) and job counts (``.jobs``) of a span include its child
spans; the spans file written next to the result also gives self times.
Set-up functions (the session factory and the full corpus build) are
measured in the traced set-up, everything else in the traced timed pass.
"""

from __future__ import annotations

from collections import defaultdict

from spans import parse_event_log, span_of_group


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0  # a pass whose first unit raised consumed nothing


# span name -> the fields reported for it
TIMED = {
    "sources.files.read_any": ("s", "calls"),
    "sources.jdbc.read_incremental": ("s",),
    "sources.jdbc.read_keys": ("s",),
    "state.RunLog.append": ("s", "calls", "jobs"),
    "state.RunLog.next_run_id": ("s",),
    "operators.scd.scd1_merge": ("s",),
    "operators.scd.scd2_merge": ("s",),
    "plans.fraud.fraud_report": ("s",),
    "pipeline.ingest_file": ("s",),
    "pipeline.ingest_database": ("s",),
    "pipeline.mart_update": ("s",),
    "pipeline.Warehouse.overwrite": ("s", "calls", "jobs", "rows"),
    "pipeline.Warehouse.append": ("s", "calls", "jobs", "rows"),
    "pipeline.Warehouse.read": ("s", "jobs"),
    "pipeline.Warehouse.commit_run": ("s",),
    "operators.corpus_build.admit_corpus_batch": ("s", "jobs"),
    "operators.corpus_build.admission": ("s", "jobs"),
    "operators.dedup.components_from_edges": ("s", "jobs"),
    "operators.dedup_index.ingest": ("s", "jobs"),
}
SETUP = {
    "session.get_spark": ("s",),
    "operators.corpus_build.build_corpus": ("s",),
    "operators.dedup.minhash_lsh_pairs": ("s", "jobs"),
    "operators.export.export_shards": ("s",),
}
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
         "output_bytes")
UNITS = {"s": "s", "calls": "count", "jobs": "count", "rows": "rows"}


def _metric_names() -> list[tuple[str, str]]:
    out = [(f"{n}.{f}", UNITS[f]) for n, fs in {**TIMED, **SETUP}.items() for f in fs]
    out += [("pipeline.Warehouse.bytes_written", "bytes"),
            ("pipeline.Warehouse.files_written", "count"),
            ("pipeline.Warehouse.rows_written_per_input_row", "ratio"),
            ("operators.corpus_build.admitted_ratio", "ratio")]
    out += [(f"spark.{k}", "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes")
                                                         else "count")) for k in SPARK]
    out += [("spark.core_busy_ratio", "ratio"), ("trace.overhead_s", "s"),
            ("trace.span_coverage", "ratio")]
    return out


METRICS = _metric_names()


def per_layer(workload, tracer, events_dir: str, plain: dict, traced: dict, cpus: int):
    groups = parse_event_log(events_dir)
    own: dict[int, dict] = {}
    for g, m in groups.items():
        sid = span_of_group(g)
        if sid is not None:
            own[sid] = m
    kids = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])

    def inclusive(sid: int, key: str) -> float:
        return own.get(sid, {}).get(key, 0) + sum(inclusive(k, key) for k in kids[sid])

    values = {name: 0.0 for name, _ in METRICS}
    summary = {}
    for phase, wanted in (("setup", SETUP), ("timed", TIMED)):
        for name, a in tracer.by_name(phase).items():
            jobs = sum(inclusive(i, "jobs") for i in a["ids"])
            summary[f"{phase}:{name}"] = {"s": a["s"], "self_s": a["self_s"],
                                          "calls": a["calls"], "jobs": jobs}
            for f in wanted.get(name, ()):
                values[f"{name}.{f}"] = {"s": a["s"], "calls": a["calls"], "jobs": jobs,
                                         "rows": a["returned"]}[f]
    timed_ids = {s["id"] for s in tracer.spans if s["phase"] == "timed"}
    for key in SPARK:
        values[f"spark.{key}"] = sum(own.get(i, {}).get(key, 0) for i in timed_ids)
    wall = sum(traced["units"])
    values["spark.core_busy_ratio"] = ratio(values["spark.executor_run_s"], wall * cpus)
    values["pipeline.Warehouse.bytes_written"] = traced["bytes_written"]
    values["pipeline.Warehouse.files_written"] = traced["files_written"]
    written = values["pipeline.Warehouse.overwrite.rows"] + values["pipeline.Warehouse.append.rows"]
    values["pipeline.Warehouse.rows_written_per_input_row"] = ratio(written, traced["rows"])
    if workload == "corpus_admit":
        admitted = sum(r["n_admitted"] for r in traced["results"])
        values["operators.corpus_build.admitted_ratio"] = ratio(admitted, traced["rows"])
    values["trace.overhead_s"] = wall - sum(plain["units"])
    values["trace.span_coverage"] = tracer.coverage("timed", wall)
    units = dict(METRICS)
    return {n: {"value": v, "unit": units[n]} for n, v in values.items()}, summary
