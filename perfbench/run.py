"""Benchmark of the extraction job (``pipeline.run_extraction``, as run by
``jobs/extract.py``) on seeded synthetic corpora. See README.md.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 1 when any committed row is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
N_PARTS = 64  # jobs/extract.py default
JOB_TIMEOUT_S = 170

sys.dont_write_bytecode = True

from corpus import WARM_OFFSET, WARM_ROWS, WORKLOADS, read_rows, row_indices, write_corpus  # noqa: E402
from spans import Tracer, digest, replay  # noqa: E402


def stage_source(dst: str) -> str:
    """Copy the package's sources into ``dst``. The job imports this copy,
    so the zip that ``session.get_spark`` ships to the Python workers is
    built fresh from the checked-out code, inside the work directory."""
    pkg = os.path.join(ROOT, "pdf_parser_spark")
    if not os.path.isfile(os.path.join(pkg, "pipeline.py")):
        raise SystemExit(f"error: {pkg} not found; run from a repository checkout")
    shutil.copytree(
        pkg, os.path.join(dst, "pdf_parser_spark"),
        ignore=shutil.ignore_patterns("__pycache__", "*.pyc"),
        copy_function=shutil.copyfile,
    )
    sys.path.insert(0, dst)
    return dst


def oracle_digests(corpus_path: str, corpus_hash: str, procs: int,
                   src: str, run_dir: str) -> dict[str, str]:
    """url -> digest of ``oracle.extract_document``'s output, cached under
    the work directory by corpus content hash.

    The rows are split over ``procs`` plain child processes
    (``spans.py``'s shard mode) that are all waited for. A multiprocessing
    pool is not used: its resource tracker outlives this process."""
    cache = os.path.join(WORK, "oracle", f"{corpus_hash}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    outs = [os.path.join(run_dir, f"oracle-{k}.json") for k in range(procs)]
    children: list[subprocess.Popen] = []
    try:
        for k, out in enumerate(outs):
            children.append(subprocess.Popen(
                [sys.executable, "-B", os.path.join(HERE, "spans.py"),
                 src, corpus_path, str(k), str(procs), out]))
        codes = [p.wait(timeout=JOB_TIMEOUT_S) for p in children]
    finally:
        for p in children:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(codes):
        raise SystemExit(f"error: oracle shard failed ({codes})")
    digests: dict[str, str] = {}
    for out in outs:
        with open(out) as f:
            digests.update(json.load(f))
    save_json(cache, digests)
    return digests


def save_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def check_output(out_root: str, run_id: str, digests: dict[str, str]) -> dict:
    """Compare every committed row of one iteration with the oracle.
    A corpus url is wrong when its committed row is missing, duplicated or
    differs; a committed url outside the corpus is wrong too. The lineage
    rows of ``run_id`` must count every corpus row once."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(out_root, "extracted"), format="parquet",
                   partitioning="hive").to_table(
        columns=["url", "extracted_text", "clauses_json", "tables_json", "error"])
    committed: dict[str, list[str]] = {}
    for url, *out in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        committed.setdefault(url, []).append(digest(*out))
    wrong = sum(1 for url, d in digests.items() if committed.get(url) != [d])
    wrong += sum(1 for url in committed if url not in digests)

    lineage = ds.dataset(os.path.join(out_root, "lineage"), format="parquet").to_table(
        columns=["run_id", "status", "n_docs"]).to_pylist()
    lineage_docs = sum(r["n_docs"] for r in lineage
                       if r["run_id"] == run_id and r["status"] == "done")
    return {
        "rows": t.num_rows,
        "distinct_urls": len(committed),
        "lineage_docs": lineage_docs,
        "wrong": wrong + abs(lineage_docs - len(digests)),
    }


def run_job(cfg: dict, run_dir: str) -> dict:
    cfg_path = os.path.join(run_dir, "job.json")
    result_path = os.path.join(run_dir, "result.json")
    save_json(cfg_path, cfg)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "SPARK_TESTING"))}
    env.update(
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # keep the JVMs' scratch files (and hsperfdata) inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    log_path = os.path.join(run_dir, "job.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), cfg_path, result_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=JOB_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            reap_session(proc)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"error: benchmark job failed ({code})")
    with open(result_path) as f:
        return json.load(f)


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:  # field 6 of stat: session id
                pids.append(int(d))
    return pids


def reap_session(proc: subprocess.Popen, grace_s: float = 30.0) -> None:
    """Stop the job and everything it started (the JVM, the Python
    workers), and wait until all of them have ended, so that the next run
    starts on an idle machine. A job that ended gets ``grace_s`` for its
    JVM and workers to exit; a job still running (timeout, or this process
    being stopped) is killed at once. Processes are found by session, not
    process group: the PySpark daemon moves itself to a group of its own."""
    if proc.poll() is not None:
        deadline = time.monotonic() + grace_s
        while _session_pids(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
    while True:
        pids = _session_pids(proc.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        if not pids:
            return
        time.sleep(0.1)


def proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat samples."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(1, sum(d[:8]))


def end_to_end(res: dict, rows: int) -> dict:
    rates = [rows / it["wall_s"] for it in res["iterations"]]
    return {
        "docs_per_sec": {"value": statistics.median(rates), "unit": "docs/s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        # the Python side only: the JVM's share of the peak follows G1's
        # adaptive heap sizing, which differs by up to 2x between identical
        # runs; the total is the per-layer mem.peak_rss_mb
        "python_peak_rss_mb": {
            "value": res["peak_rss_bytes_by_kind"]["python"] / 2**20, "unit": "MB"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    # a stopped run still reaps its children and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        return _run(args, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, run_dir: str) -> int:
    import platform

    import pyarrow
    import pyspark

    stage_source(os.path.join(run_dir, "src"))
    nproc = len(os.sched_getaffinity(0))
    cores = nproc

    phase_s = {}
    t = time.perf_counter()
    corpus_path = os.path.join(run_dir, "corpus")
    corpus = write_corpus(corpus_path, row_indices(args.seed, wl.kinds, wl.rows))
    warm_path = os.path.join(run_dir, "warm")
    write_corpus(warm_path, row_indices(args.seed, None, WARM_ROWS, WARM_OFFSET))

    t, phase_s["corpus"] = time.perf_counter(), time.perf_counter() - t
    replay_metrics: dict = {}
    if args.trace:
        digests, replay_metrics = replay(read_rows(corpus_path), Tracer("replay"))
        save_json(os.path.join(WORK, "oracle", f"{corpus['hash']}.json"), digests)
    else:
        digests = oracle_digests(corpus_path, corpus["hash"], min(4, nproc),
                                 os.path.join(run_dir, "src"), run_dir)

    cfg = {
        "workload": wl.name, "src": os.path.join(run_dir, "src"),
        "input": corpus_path, "warm_input": warm_path,
        "out": os.path.join(run_dir, "out"), "seconds": args.seconds,
        "trace": bool(args.trace), "trace_id": f"{wl.name}-{args.seed}",
        "cores": cores, "n_parts": N_PARTS, "waves": wl.waves,
        "stop_after_waves": wl.stop_after_waves,
    }
    t, phase_s["oracle"] = time.perf_counter(), time.perf_counter() - t
    cpu_before = proc_stat_cpu()
    res = run_job(cfg, run_dir)
    steal = cpu_steal_share(cpu_before, proc_stat_cpu())
    t, phase_s["job"] = time.perf_counter(), time.perf_counter() - t

    checks = [check_output(it["out"], it["run_id"], digests) for it in res["iterations"]]
    attempted = corpus["rows"] * len(checks)
    failed = sum(c["wrong"] for c in checks)
    phase_s["check"] = time.perf_counter() - t

    describe = {
        "workload": wl.name, "seed": args.seed, "trace": bool(args.trace),
        "nproc": nproc, "cores": res["cores"], "master": res["master"],
        "corpus": corpus, "n_parts": N_PARTS, "waves": wl.waves,
        "stop_after_waves": wl.stop_after_waves,
        "iterations": len(res["iterations"]), "window_s": res["window_s"],
        "iteration_wall_s": [it["wall_s"] for it in res["iterations"]],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "phase_s": phase_s,
        "cpu_steal_share": steal,
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
        "peak_rss_mb_by_kind": {k: v / 2**20 for k, v in
                                res["peak_rss_bytes_by_kind"].items()},
        "docs_wrong_frac": failed / attempted,
        "checks": checks,
    }
    if args.trace:
        from layers import per_layer

        metrics, describe["layers_extra"] = per_layer(
            res, replay_metrics, cores, corpus["rows"])
        describe["stage_tasks"] = {
            s["description"]: s["numTasks"] for s in res["stages"] if s.get("description")
        }
    else:
        metrics = end_to_end(res, corpus["rows"])
    record = {"describe": describe, "metrics": metrics}
    save_json(os.path.join(WORK, "results",
                           f"{wl.name}-{args.seed}-trace{args.trace}.json"), record)
    if args.trace:
        save_json(os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.json"),
                  {"job": res["spans"], "stages": res["stages"]})

    report(describe, metrics)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def report(describe: dict, metrics: dict) -> None:
    print(json.dumps(describe))
    for name, m in metrics.items():
        print(f"{describe['workload']:<15} {name:<44} {m['value']:>14.4f} {m['unit']}")
    print(f"{describe['workload']:<15} {'docs_wrong_frac':<44} "
          f"{describe['docs_wrong_frac']:>14.4f} ratio")
    print(f"{describe['workload']:<15} {'peak_rss_mb (JVM + Python)':<44} "
          f"{describe['peak_rss_mb']:>14.4f} MB")


if __name__ == "__main__":
    sys.exit(main())
