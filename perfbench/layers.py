"""Per-layer metrics of a traced run, named by the program's modules.

Sources: the job's spans (``job.py``), Spark's per-stage metrics read from
the driver UI's REST endpoint, and the single-process oracle replay
(``spans.replay``). Stages are attributed to a layer by the job description
the traced run sets around each phase (``it<k>:extract``, ``it<k>:lineage``,
``it<k>:done_parts``).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import KERNELS, PIXEL_STEPS, ERROR_CLASSES, Span, self_times

UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "io.scan_tasks": "count",
    "io.scan_s": "s",
    "io.input_bytes": "bytes",
    "io.output_bytes": "bytes",
    "pipeline.exchange_bytes": "bytes",
    "pipeline.exchange_write_s": "s",
    "pipeline.extract_tasks": "count",
    "pipeline.extract_task_s": "s",
    "pipeline.task_s.p50": "s",
    "pipeline.task_s.max": "s",
    "pipeline.task_skew": "ratio",
    "pipeline.gc_s": "s",
    "pipeline.lineage_s": "s",
    "pipeline.done_parts_s": "s",
    "pipeline.waves": "count",
    "stages.extract_s": "s",
    "stages.kernel_s": "s",
    "stages.kernel_share": "ratio",
    "oracle.doc_ms.html.p50": "ms",
    "oracle.doc_ms.html.p99": "ms",
    "oracle.doc_ms.html.max": "ms",
    **{f"oracle.error_docs.{c}": "count" for c in ERROR_CLASSES + ("clause",)},
    **{f"kernels.{k}.calls": "count" for k in KERNELS},
    **{f"kernels.{k}.share": "ratio" for k in KERNELS + PIXEL_STEPS},
    "trace.docs_per_sec": "docs/s",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
}


def _stage_layers(stages: list[dict]) -> dict[str, dict[str, float]]:
    """Per iteration, sums over its stages of each stage-level metric."""
    per_it: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: dict[str, list[int]] = defaultdict(list)
    for s in stages:
        it, _, phase = (s.get("description") or "").partition(":")
        if not it.startswith("it"):
            continue
        m = per_it[it]
        m["pipeline.gc_s"] += s["jvmGcTime"] / 1e3
        if phase != "extract":
            continue
        if s["inputBytes"] and s["shuffleWriteBytes"]:  # scan -> exchange
            m["io.scan_stages"] += 1
            m["io.scan_tasks"] += s["numTasks"]
            m["io.scan_s"] += s["executorRunTime"] / 1e3
            m["io.input_bytes"] += s["inputBytes"]
            m["pipeline.exchange_bytes"] += s["shuffleWriteBytes"]
            m["pipeline.exchange_write_s"] += s["shuffleWriteTime"] / 1e9
        elif s["shuffleReadBytes"]:  # exchange -> extract -> write
            m["pipeline.extract_stages"] += 1
            m["pipeline.extract_tasks"] += s["numTasks"]
            m["pipeline.extract_task_s"] += s["executorRunTime"] / 1e3
            m["pipeline.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
            m["io.output_bytes"] += s["outputBytes"]
            tasks[it].extend(s.get("task_run_ms", []))
    for it, m in per_it.items():
        # task counts are per stage: a resume iteration scans once per wave
        m["io.scan_tasks"] /= max(1.0, m["io.scan_stages"])
        m["pipeline.extract_tasks"] /= max(1.0, m["pipeline.extract_stages"])
        ts = tasks[it]
        if ts:
            m["pipeline.task_s.p50"] = statistics.median(ts) / 1e3
            m["pipeline.task_s.max"] = max(ts) / 1e3
            m["pipeline.task_skew"] = max(ts) / max(1e-9, statistics.median(ts))
    return per_it


def _span_layers(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per iteration: done_parts time, and lineage time = the job's own
    time outside ``done_parts`` and the extract write (lineage read-back,
    lineage append, planning)."""
    objs = [Span(s["id"], s["parent"], s["name"], s["start"], s["end"], s["attrs"])
            for s in spans]
    by_id = {s.id: s for s in objs}
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in objs:
        if s.name != "pipeline.run_extraction":
            continue
        m = out[s.attrs["iteration"]]
        m["wall_s"] = s.duration
        m["pipeline.lineage_s"] += s.duration
    for s in objs:
        root = s
        while root.parent is not None and root.name != "pipeline.run_extraction":
            root = by_id[root.parent]
        if root is s or root.name != "pipeline.run_extraction":
            continue
        m = out[root.attrs["iteration"]]
        if s.name == "pipeline.done_parts":
            m["pipeline.done_parts_s"] += s.duration
            m["pipeline.lineage_s"] -= s.duration
        elif s.name == "io.overwrite_partitions":
            m["pipeline.lineage_s"] -= s.duration
    return out


def per_layer(res: dict, replay: dict, cores: int, rows: int) -> dict:
    spans = res["spans"]
    session = {s["name"]: s["end"] - s["start"] for s in spans
               if s["name"].startswith("session.")}
    values: dict[str, float] = {
        "session.get_spark_s": session["session.get_spark"],
        "session.warmup_s": session["session.warmup"],
    }
    its = list(_stage_layers(res["stages"]).values())
    span_its = _span_layers(spans)
    for k, m in span_its.items():
        m["pipeline.waves"] = res["iterations"][k]["waves"]
    its += list(span_its.values())
    for name in UNITS:
        xs = [m[name] for m in its if name in m]
        if xs:
            values[name] = statistics.median(xs)
    values["trace.docs_per_sec"] = statistics.median(
        rows / it["wall_s"] for it in res["iterations"])
    values["mem.peak_rss_mb"] = res["peak_rss_bytes"] / 2**20
    values["mem.jvm_peak_rss_mb"] = res["peak_rss_bytes_by_kind"]["java"] / 2**20
    values["stages.extract_s"] = res["extract_only_s"]
    values["stages.kernel_s"] = replay["oracle.doc_s"]
    values["stages.kernel_share"] = replay["oracle.doc_s"] / (res["extract_only_s"] * cores)
    for name in ("pipeline.fetch_wait_s",):
        xs = [m[name] for m in its if name in m]
        values[name] = statistics.median(xs) if xs else 0.0
    values.update(replay)
    missing = sorted(set(UNITS) - set(values))
    if missing:
        raise RuntimeError(f"traced run produced no value for {missing}")
    metrics = {name: {"value": values[name], "unit": UNITS[name]} for name in UNITS}
    extra = {k: v for k, v in values.items() if k not in UNITS}
    return metrics, extra
