"""Two-cluster-size scaling evidence (north rule: throughput-scaling
efficiency >= 0.8 from N to 4N executors).

No real cluster exists in this sandbox, so the same job runs at two
parallelism levels (local[N] vs local[4N], identical input) in FRESH
JVMs, and efficiency = (T_N / T_4N) / 4. Each level times the real job,
``pipeline.run_extraction``, with ``bench.bench_extraction``: one warm-up
job, then the median of 3 (session startup and python-worker cold start
are fixed costs a cluster pays once, not scaling properties).

    python BENCH/run_scaling.py [--docs 4000] [--cores 1,4] [--out FILE]

``--cores`` defaults to N = nproc // 4 and 4N. The report goes to stdout,
and to ``--out`` only when given.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

WORKER = r"""
import json, sys
sys.path.insert(0, {repo!r})
from bench import _session, bench_extraction
spark = _session({cores})
spark.conf.set("spark.sql.shuffle.partitions", "{cores}")
print(json.dumps(dict(bench_extraction(spark, {docs}), cores={cores})))
spark.stop()
"""


def default_cores() -> str:
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    return f"{n},{4 * n}"


def run_at(repo: str, docs: int, cores: int) -> dict:
    code = WORKER.format(repo=repo, docs=docs, cores=cores)
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--out", default=None, help="also write the report here")
    ap.add_argument("--cores", default=default_cores())
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = {}
    for cores in [int(c) for c in args.cores.split(",")]:
        results[cores] = run_at(repo, args.docs, cores)
        print(json.dumps(results[cores]))

    levels = sorted(results)
    pairs = []
    for a in levels:
        for b in levels:
            if b == 4 * a:
                sp = results[a]["wall_sec"] / results[b]["wall_sec"]
                pairs.append(
                    {
                        "n": a,
                        "four_n": b,
                        "speedup": round(sp, 3),
                        "efficiency": round(sp / 4, 3),
                    }
                )
    lo, hi = levels[0], levels[-1]
    speedup = results[lo]["wall_sec"] / results[hi]["wall_sec"]
    factor = hi / lo
    summary = {
        "docs": args.docs,
        "low": results[lo],
        "high": results[hi],
        "speedup": round(speedup, 3),
        "core_factor": factor,
        "scaling_efficiency": round(speedup / factor, 3),
        "pairs": pairs,
    }

    rows = "\n".join(
        f"| local[{c}] | {results[c]['wall_sec']:.2f} "
        f"| {results[c]['docs_per_sec']:.2f} |"
        for c in levels
    )
    pair_rows = "\n".join(
        f"| {p['n']} -> {p['four_n']} | {p['speedup']:.2f}x "
        f"| **{p['efficiency']:.3f}** |"
        for p in pairs
    )
    md = f"""# Scaling efficiency (north rule: >= 0.8 from N to 4N executors)

The extraction job (`pipeline.run_extraction`) on the same input
({args.docs} synthetic docs, FIXTURES.md mix: ~70% HTML / ~25%
PDF-raster / ~5% adversarial), fresh JVM per parallelism level, median
wall of 3 jobs after one warm-up job.

| parallelism | wall sec | docs/sec |
|---|---|---|
{rows}

N -> 4N efficiency = (T_N / T_4N) / 4:

| pair | speedup | efficiency |
|---|---|---|
{pair_rows}

Raw JSON: `{json.dumps(summary)}`
"""
    print(md)
    if args.out:
        with open(args.out, "w") as f:
            f.write(md)


if __name__ == "__main__":
    main()
