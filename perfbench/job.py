"""One benchmark job in a fresh JVM: set up a session the way
``jobs/extract.py`` does, warm it on a small separate slice, then run
``pipeline.run_extraction`` over the corpus in a closed loop (one job at a
time) until the measuring window is over.

    python3 perfbench/job.py CONFIG_JSON RESULT_JSON

``run.py`` writes the config and reads the result; this file only runs
inside that child process.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import nullcontext

_PAGE = os.sysconf("SC_PAGE_SIZE")


# The JVM and the Python daemon and workers. Other descendants are
# short-lived: a JVM thread forking a helper (``chmod``) shows up for a
# moment with the JVM's whole RSS under the thread's name, and counting it
# would report the JVM twice.
_COUNTED = ("java", "python")


def _tree_rss_bytes(root: int) -> dict[str, int]:
    """RSS of the JVM and Python processes below ``root``, read from
    /proc, summed by kind (``java``, ``python``)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total: dict[str, int] = {}
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            kind = next((k for k in _COUNTED if comm.startswith(k)), None)
            if kind is None:
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        total[kind] = total.get(kind, 0) + rss
    return total


class RssSampler:
    """Peak summed RSS of the JVM and Python processes below this one,
    sampled every ``interval`` seconds, overall and by kind."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample = _tree_rss_bytes(me)
            self.peak = max(self.peak, sum(sample.values()))
            for kind, rss in sample.items():
                self.peak_by_kind[kind] = max(self.peak_by_kind.get(kind, 0), rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _run_once(spark, cfg: dict, input_path: str, out_root: str, run_id: str):
    """One closed-loop iteration: the job, or for a resume workload the job
    stopped after ``stop_after_waves`` and then resumed with the same id."""
    from pdf_parser_spark.pipeline import run_extraction

    kw = dict(run_id=run_id, n_parts=cfg["n_parts"], waves=cfg["waves"])
    calls = []
    if cfg["stop_after_waves"] is not None:
        calls.append(dict(kw, max_waves=cfg["stop_after_waves"]))
    calls.append(kw)
    t0 = time.perf_counter()
    stats = [
        run_extraction(spark, spark.read.parquet(input_path), out_root, **c)
        for c in calls
    ]
    return time.perf_counter() - t0, stats


class _Labels:
    """Tags the Spark jobs of each phase with a job description, so the
    stage metrics read back from the UI can be attributed to a layer."""

    def __init__(self, sc):
        self.sc = sc
        self.prefix = ""

    def set(self, phase: str) -> None:
        self.sc.setJobDescription(f"{self.prefix}:{phase}")

    def around(self, fn, phase: str, after: str):
        def labelled(*a, **k):
            self.set(phase)
            try:
                return fn(*a, **k)
            finally:
                self.set(after)

        return labelled


def main(cfg_path: str, result_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["src"])
    trace = cfg["trace"]
    if trace:
        from spans import Tracer

        tracer = Tracer(cfg["trace_id"])
        span = tracer.span
    else:
        def span(name, **attrs):
            return nullcontext()
    result: dict = {"iterations": []}

    t0 = time.perf_counter()
    from pdf_parser_spark.session import get_spark

    with span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{cfg['workload']}")
    t1 = time.perf_counter()
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        result["master"] = sc.master
        result["cores"] = sc.defaultParallelism
        result["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
        labels = _Labels(sc)
        if trace:
            labels.prefix = "setup"
            labels.set("warmup")
        with span("session.warmup"):
            _run_once(spark, dict(cfg, waves=1, stop_after_waves=None),
                      cfg["warm_input"], os.path.join(cfg["out"], "warmup"), "warmup")
        t2 = time.perf_counter()
        result["get_spark_s"] = t1 - t0
        result["warmup_s"] = t2 - t1
        result["setup_s"] = t2 - t0

        if trace:
            import pdf_parser_spark.pipeline as pipeline
            from pdf_parser_spark.sources import TableIO

            targets = [
                (TableIO, "read", "io.read"),
                (TableIO, "overwrite_partitions", "io.overwrite_partitions"),
                (TableIO, "append", "io.append"),
                (pipeline, "done_parts", "pipeline.done_parts"),
            ]
            # label jobs by phase: the write triggers scan, exchange and the
            # extract stage; everything after it in a wave is lineage
            TableIO.overwrite_partitions = labels.around(
                TableIO.overwrite_partitions, "extract", "lineage")
            pipeline.done_parts = labels.around(
                pipeline.done_parts, "done_parts", "lineage")
            cm = tracer.wrapped(targets)
        else:
            cm = nullcontext()

        # start every window from the same heap state
        sc._jvm.java.lang.System.gc()
        window_start = time.perf_counter()
        with RssSampler() as rss, cm:
            # closed loop, one job at a time, while the window is open; the
            # job in flight when it closes is finished and counted
            k = 0
            while k == 0 or time.perf_counter() - window_start < cfg["seconds"]:
                out = os.path.join(cfg["out"], f"it{k}")
                if trace:
                    labels.prefix = f"it{k}"
                    labels.set("read")
                with span("pipeline.run_extraction", iteration=k):
                    wall, stats = _run_once(spark, cfg, cfg["input"], out, f"bench{k}")
                result["iterations"].append({
                    "out": out,
                    "run_id": f"bench{k}",
                    "wall_s": wall,
                    "waves": sum(s.waves_run for s in stats),
                    "docs": sum(s.docs_processed for s in stats),
                })
                k += 1
        result["window_s"] = time.perf_counter() - window_start
        result["peak_rss_bytes"] = rss.peak
        result["peak_rss_bytes_by_kind"] = rss.peak_by_kind

        if trace:
            labels.prefix = "stage"
            labels.set("extract_only")
            result["extract_only_s"] = _extract_only(spark, cfg, tracer)
            result["stages"] = _stage_metrics(sc)
            result["spans"] = tracer.to_json()["spans"]
    finally:
        spark.stop()
    with open(result_path, "w") as f:
        json.dump(result, f)


def _extract_only(spark, cfg: dict, tracer) -> float:
    """``extract_stage`` alone: a noop sink over input that was already
    salted, exchanged and checkpointed, so scan, exchange and write are out
    of the timed region."""
    from pdf_parser_spark.operators import extract_stage
    from pdf_parser_spark.pipeline import with_part_id

    n = min(int(spark.conf.get("spark.sql.shuffle.partitions")), cfg["n_parts"])
    staged = (
        with_part_id(spark.read.parquet(cfg["input"]), cfg["n_parts"])
        .select("url", "html", "part_id")
        .repartition(n, "part_id")
        .localCheckpoint(eager=True)
    )
    with tracer.span("stages.extract_stage") as s:
        extract_stage(staged).write.format("noop").mode("overwrite").save()
    staged.unpersist()
    return s.duration


def _stage_metrics(sc) -> list[dict]:
    """Completed stages from the driver UI's REST endpoint, with the run
    time of each task for the extract stages."""
    import urllib.request

    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"

    def get(url: str):
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    keep = (
        "stageId", "attemptId", "numTasks", "description", "executorRunTime",
        "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
        "shuffleReadBytes", "shuffleWriteBytes", "shuffleWriteTime",
        "shuffleFetchWaitTime", "submissionTime", "completionTime",
    )
    out = []
    for s in get(base):
        if s["status"] != "COMPLETE":
            continue
        row = {k: s.get(k) for k in keep}
        if s.get("shuffleReadBytes") and s.get("outputBytes"):
            tasks = get(f"{base}/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
            row["task_run_ms"] = [t["taskMetrics"]["executorRunTime"] for t in tasks
                                  if t.get("taskMetrics")]
        out.append(row)
    return out


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
