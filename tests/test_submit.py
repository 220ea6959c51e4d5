"""The packaged extraction job under spark-submit: the launcher's
``--master`` and ``--conf`` win over the session defaults, the recipe's
driver memory and local file system are left to the launcher, and the
job imports the package from the ``--py-files`` zip alone."""

import glob
import json
import os
import subprocess

import pyspark

from pdf_parser_spark import session
from pdf_parser_spark.oracle import extract_document

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_launcher_settings_win(spark, corpus_df, corpus_rows, tmp_path):
    inp, out, events = tmp_path / "in", tmp_path / "out", tmp_path / "events"
    corpus_df.write.parquet(str(inp))
    events.mkdir()
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    # tier-1 env: SPARK_GRAFT_CPUS is set, and must not beat --master
    assert os.environ.get("SPARK_GRAFT_CPUS")
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=3",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--py-files", session.package_zip(),
            os.path.join(REPO, "pdf_parser_spark", "jobs", "extract.py"),
            "--input", str(inp), "--output", str(out), "--run-id", "sub1",
            "--n-parts", "8",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = [l for l in proc.stdout.splitlines() if l.startswith("run_id=")]
    assert summary and "docs=80" in summary[-1].split(), proc.stdout

    got = {
        r.url: r
        for r in spark.read.parquet(str(out / "extracted")).collect()
    }
    assert len(got) == len(corpus_rows)
    for row in corpus_rows:
        o = extract_document(row["url"], bytes(row["html"]))
        g = got[o.url]
        assert (g.extracted_text, g.clauses_json, g.tables_json, g.error) == (
            o.extracted_text, o.clauses_json, o.tables_json, o.error
        ), o.url

    (log,) = glob.glob(str(events / "*"))
    with open(log) as f:
        env = next(
            e for e in map(json.loads, f)
            if e["Event"] == "SparkListenerEnvironmentUpdate"
        )
    props = env["Spark Properties"]
    assert props["spark.master"] == "local[2]"
    assert props["spark.sql.shuffle.partitions"] == "3"
    # the driver JVM was started by spark-submit with its own heap: the
    # recipe's driver memory could not apply and is not recorded
    assert "spark.driver.memory" not in props
    # nor its local file system, which needs the driver's class path
    assert "spark.hadoop.fs.file.impl" not in props
    assert "spark.driver.extraClassPath" not in props
