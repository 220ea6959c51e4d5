"""Two-parallelism scaling evidence for the CURATION pipeline
(jobs/curate.py — the training-data composition), companion to
run_scaling.py's extraction datum.

Same job, same input, fresh JVM per parallelism level; the measured
section excludes session startup and python-worker cold start (one
warm pass first — a cluster pays both once per executor lifetime).
Input is sf0.1 documents replicated K times with offset doc_ids and a
SEEDED per-replica token shuffle (deterministic, no external data):
shuffling keeps each replica's token histogram — so quality metrics,
language mix and sampling strata are unchanged — while randomizing the
3-gram shingle sets, so replicas are NOT trivial near-dups of each
other and the LSH/verify work scales like a real crawl's duplicate
rate instead of quadratically in the replication factor.

    python BENCH/run_scaling_curate.py [--replicas 32] [--cores 1,4]

``--cores`` defaults to N = nproc // 4 and 4N, as in run_scaling.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run_scaling import default_cores

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUILD = r"""
import random
import pyarrow as pa
import pyarrow.parquet as pq
t = pq.read_table("/root/testdata/sf0.1/documents.parquet")
cols = {{name: t[name].to_pylist() for name in t.column_names}}
n = len(cols["doc_id"])
out = {{name: [] for name in t.column_names}}
for k in range({replicas}):
    for i in range(n):
        for name in t.column_names:
            if name == "doc_id":
                out[name].append(cols[name][i] + 100000 * k)
            elif name == "text" and k > 0:
                ws = cols["text"][i].split(" ")
                random.Random(k * 1000003 + cols["doc_id"][i]).shuffle(ws)
                out[name].append(" ".join(ws))
            else:
                out[name].append(cols[name][i])
pq.write_table(pa.table(out), {corpus!r} + ".parquet",
               row_group_size=5000)
import os
os.makedirs({corpus!r}, exist_ok=True)
os.replace({corpus!r} + ".parquet", {corpus!r} + "/data.parquet")
open({corpus!r} + "/_SUCCESS", "w").close()
print("built", len(out["doc_id"]))
"""

WORKER = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "{cores}"
from pdf_parser_spark.functions import curate
from pdf_parser_spark.session import get_spark
spark = get_spark(app_name="curate-scale-{cores}")
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.shuffle.partitions", "{cores}")
# >= 4 input splits per core so the narrow (no-shuffle) stages
# parallelize too; row groups are ~1 MB so splits land on group edges
spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
df = spark.read.parquet({corpus!r})
n_docs = df.count()
rates = {{"en": 50, "fr": 25, "de": 10}}

def run(tag, mat):
    root = "/tmp/pps_curate_scale_{cores}_" + tag
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    res = curate(df, rates=rates, default_pct=5,
                 materialize_dir=root if mat else None)
    n = res.curated.count()
    dt = time.time() - t0
    shutil.rmtree(root, ignore_errors=True)
    return dt, n

run("warm", True)  # worker fork + numpy import: once per executor life
out = {{"cores": {cores}, "docs": n_docs}}
for mode, mat in (("mat", True), ("lazy", False)):
    walls, n = [], 0
    for i in range(3):
        dt, n = run(mode + str(i), mat)
        walls.append(dt)
    out[mode + "_wall_sec"] = min(walls)
    out[mode + "_runs"] = [round(w, 2) for w in walls]
    out["curated"] = n
print(json.dumps(out))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=32)
    ap.add_argument("--cores", default=default_cores())
    args = ap.parse_args()
    corpus = f"/tmp/pps_curate_scale_docs_x{args.replicas}"

    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        r = subprocess.run(
            [sys.executable, "-c",
             BUILD.format(repo=REPO, corpus=corpus, replicas=args.replicas)],
            capture_output=True, text=True, timeout=1200,
        )
        if r.returncode != 0 or "built" not in r.stdout:
            print("BUILD FAILED:\n" + r.stderr[-1500:])
            return
        print(r.stdout.strip().splitlines()[-1])

    results = []
    for cores in (int(c) for c in args.cores.split(",")):
        code = WORKER.format(repo=REPO, corpus=corpus, cores=cores)
        r = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=3600,
        )
        line = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if not line:
            print(f"cores={cores} FAILED:\n{r.stderr[-2000:]}")
            return
        d = json.loads(line[-1])
        d["docs_per_sec"] = round(d["docs"] / d["lazy_wall_sec"], 1)
        results.append(d)
        print(json.dumps(d))

    if len(results) == 2:
        a, b = results
        for mode in ("mat", "lazy"):
            ratio = a[mode + "_wall_sec"] / b[mode + "_wall_sec"]
            eff = ratio / (b["cores"] / a["cores"])
            print(f"{mode}: speedup {a['cores']}->{b['cores']}: "
                  f"{ratio:.2f}x  efficiency: {eff:.3f}")


if __name__ == "__main__":
    main()
